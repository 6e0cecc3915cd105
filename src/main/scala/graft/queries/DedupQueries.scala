package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops._
import graft.queries.Oracle.{RowsOnly, Sql}
/** Exact and near-duplicate detection: minhash/simhash/n-gram/
  * containment/embedding pairs and their indexed twins, fuzzy name
  * matching, semantic dedup and eval-set decontamination. */
object DedupQueries {

  import graft.SparkEntry._

  /** Shared oracle of the suite-decontamination pair: per-(eval set,
    * doc) word-3-gram overlap vs the %5!=0 train split, over a
    * held-out (%5==0) plus a deliberately leaky (%3==0) set. Used by
    * both decon_suite_ngram and decon_suite_bloom — the bloom gate
    * must have zero semantic footprint. */
  private val deconSuiteSql: String =
    """WITH s AS (SELECT doc_id,
         CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
              ELSE list_transform(generate_series(0, len(toks)-3),
                i -> toks[CAST(i+1 AS INT)] || ' ' || toks[CAST(i+2 AS INT)]
                     || ' ' || toks[CAST(i+3 AS INT)]) END AS sh
         FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
               FROM documents)),
       tr AS (SELECT DISTINCT unnest(list_distinct(sh)) AS gram FROM s
              WHERE doc_id % 5 != 0),
       ev AS (SELECT 'holdout' AS eval_set, doc_id FROM documents WHERE doc_id % 5 = 0
              UNION ALL
              SELECT 'leaky' AS eval_set, doc_id FROM documents WHERE doc_id % 3 = 0),
       te AS (SELECT e.eval_set, s.doc_id AS test_id,
                unnest(list_distinct(s.sh)) AS gram
              FROM s JOIN ev e ON s.doc_id = e.doc_id)
       SELECT eval_set, test_id, count(*) AS n_grams,
         CAST(sum(CASE WHEN tr.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_matched,
         round(CAST(sum(CASE WHEN tr.gram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           / count(*), 6) AS contamination
       FROM te LEFT JOIN tr ON te.gram = tr.gram
       GROUP BY 1, 2 ORDER BY 1, 2"""

  val rows: Seq[Query] = Seq(

    // DECONTAMINATION: eval-leakage check (GPT-3 appendix C shape) —
    // test split (doc_id % 5 == 0) scored for word-3-gram overlap
    // against the train split; one gram-hash equality join + one agg
    // (graft.ops.Decontaminate). DuckDB-oracled on the gram STRINGS
    // (the engine joins on xxhash64 — same fractions unless a 64-bit
    // collision)
    Query("decontaminate_ngram", (s, dir) => {
      val docs = table(s, dir, "documents")
      Decontaminate.contamination(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0),
          col("text"), col("doc_id"), n = 3)
        .presentSorted("test_id")
    }, Sql(
      """WITH s AS (SELECT doc_id,
           CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                ELSE list_transform(generate_series(0, len(toks)-3),
                  i -> toks[CAST(i+1 AS INT)] || ' ' || toks[CAST(i+2 AS INT)]
                       || ' ' || toks[CAST(i+3 AS INT)]) END AS sh
           FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
                 FROM documents)),
         tr AS (SELECT DISTINCT unnest(list_distinct(sh)) AS gram FROM s
                WHERE doc_id % 5 != 0),
         te AS (SELECT doc_id AS test_id, unnest(list_distinct(sh)) AS gram FROM s
                WHERE doc_id % 5 = 0)
         SELECT test_id, count(*) AS n_grams,
           CAST(sum(CASE WHEN tr.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_matched,
           round(CAST(sum(CASE WHEN tr.gram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS contamination
         FROM te LEFT JOIN tr ON te.gram = tr.gram
         GROUP BY 1 ORDER BY 1""")),

    // SUITE DECONTAMINATION: every benchmark in ONE pass — two
    // labeled eval sets (a disjoint held-out split plus a
    // deliberately LEAKY set that contains train members) score
    // against the same train gram table through a single join+agg,
    // so the expensive train side is scanned once for the whole
    // suite; train members in the leaky set read ~1.0 — the
    // leaked-benchmark signal. DuckDB-oracled per (set, doc)
    Query("decon_suite_ngram", (s, dir) => {
      val docs = table(s, dir, "documents")
      val evals = docs.filter(col("doc_id") % 5 === 0)
        .select(lit("holdout").as("eval_set"), col("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 3 === 0)
          .select(lit("leaky").as("eval_set"), col("doc_id"), col("text")))
      Decontaminate.contaminationSuite(
          docs.filter(col("doc_id") % 5 =!= 0), evals,
          col("text"), col("doc_id"), col("eval_set"), n = 3)
        .presentSorted("eval_set", "test_id")
    }, Sql(deconSuiteSql)),

    // the combined 100 TB shape: ONE bloom bitmap over the whole
    // suite's grams gates the train stream map-side, one exact join
    // scores every benchmark — output identical to decon_suite_ngram
    // (same oracle SQL proves the gate has no semantic footprint)
    Query("decon_suite_bloom", (s, dir) => {
      val docs = table(s, dir, "documents")
      val evals = docs.filter(col("doc_id") % 5 === 0)
        .select(lit("holdout").as("eval_set"), col("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 3 === 0)
          .select(lit("leaky").as("eval_set"), col("doc_id"), col("text")))
      Decontaminate.contaminationSuiteBloomGated(
          docs.filter(col("doc_id") % 5 =!= 0), evals,
          col("text"), col("doc_id"), col("eval_set"), n = 3,
          mBits = 1L << 18, k = 4, seed = 11L)
        .presentSorted("eval_set", "test_id")
    }, Sql(
      // identical SQL: the suite bloom gate is a plan optimization with
      // no semantic footprint, the same property decon_bloom_gated pins
      deconSuiteSql)),

    // BLOOM-GATED DECONTAMINATION: same contract as
    // decontaminate_ngram (the bitmap gate admits every true member,
    // so the exact join behind it yields identical fractions — the
    // oracle proves exactly that), but the train gram stream passes a
    // zero-shuffle broadcast bit-test before the distinct shuffle —
    // the 100 TB plan (graft.ops.Bloom + contaminationBloomGated)
    Query("decon_bloom_gated", (s, dir) => {
      val docs = table(s, dir, "documents")
      Decontaminate.contaminationBloomGated(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0),
          col("text"), col("doc_id"), n = 3, mBits = 1L << 17, k = 4,
          seed = 11L)
        .presentSorted("test_id")
    }, Sql(
      // identical SQL to decontaminate_ngram: the bloom gate is a plan
      // optimization with no semantic footprint (no false negatives +
      // exact verify join), and THAT is the property under test
      """WITH s AS (SELECT doc_id,
           CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                ELSE list_transform(generate_series(0, len(toks)-3),
                  i -> toks[CAST(i+1 AS INT)] || ' ' || toks[CAST(i+2 AS INT)]
                       || ' ' || toks[CAST(i+3 AS INT)]) END AS sh
           FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
                 FROM documents)),
         tr AS (SELECT DISTINCT unnest(list_distinct(sh)) AS gram FROM s
                WHERE doc_id % 5 != 0),
         te AS (SELECT doc_id AS test_id, unnest(list_distinct(sh)) AS gram FROM s
                WHERE doc_id % 5 = 0)
         SELECT test_id, count(*) AS n_grams,
           CAST(sum(CASE WHEN tr.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_matched,
           round(CAST(sum(CASE WHEN tr.gram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS contamination
         FROM te LEFT JOIN tr ON te.gram = tr.gram
         GROUP BY 1 ORDER BY 1""")),

    // EDIT-DISTANCE FUZZY MATCHING: exact levenshtein<=2 pairs via
    // PassJoin segment blocking (graft.ops.EditDistance) — candidates
    // from a key-equality join on (len, segment_idx, segment_text),
    // threshold-verified; oracled against DuckDB's brute-force
    // quadratic levenshtein on the sample, proving the funnel misses
    // nothing
    Query("fuzzy_name_pairs_exact_sample", (s, dir) =>
      EditDistance.editPairs(
          table(s, dir, "customer").filter(col("c_custkey") < 300),
          col("c_name"), col("c_custkey"), maxDist = 2)
        .orderBy("id_a", "id_b"),
    Sql(
      """WITH c AS (SELECT c_custkey AS id, c_name AS s FROM customer
           WHERE c_custkey < 300)
         SELECT a.id AS id_a, b.id AS id_b,
           CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
         FROM c a JOIN c b ON a.id < b.id
         WHERE levenshtein(a.s, b.s) <= 2
         ORDER BY id_a, id_b""")),

    // the indexed twin: new names (custkey 300-399) against the
    // stored segment index of custkey < 300, plus new-vs-new inline —
    // oracled against DuckDB brute force over exactly the
    // at-least-one-side-new pair space
    Query("fuzzy_name_indexed", (s, dir) => {
      val cust = table(s, dir, "customer")
      val store = memoStore("fuzzyidx", dir)(p =>
        EditDistance.buildIndex(cust.filter(col("c_custkey") < 300),
          col("c_name"), col("c_custkey"), maxDist = 2, p))
      EditDistance.editPairsAgainstIndex(s, store,
          cust.filter(col("c_custkey") >= 300 && col("c_custkey") < 400),
          col("c_name"), col("c_custkey"), maxDist = 2)
        .orderBy("id_a", "id_b")
    }, Sql(
      """WITH old AS (SELECT c_custkey AS id, c_name AS s FROM customer
           WHERE c_custkey < 300),
         nw AS (SELECT c_custkey AS id, c_name AS s FROM customer
           WHERE c_custkey >= 300 AND c_custkey < 400),
         no_ AS (SELECT least(a.id, b.id) AS id_a,
             greatest(a.id, b.id) AS id_b,
             CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
           FROM nw a JOIN old b ON true
           WHERE levenshtein(a.s, b.s) <= 2),
         nn AS (SELECT a.id AS id_a, b.id AS id_b,
             CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
           FROM nw a JOIN nw b ON a.id < b.id
           WHERE levenshtein(a.s, b.s) <= 2)
         SELECT id_a, id_b, dist FROM no_
         UNION SELECT id_a, id_b, dist FROM nn
         ORDER BY id_a, id_b""")),

    // PARAGRAPH BOILERPLATE PRUNE: drop paragraphs recurring across
    // ≥10 docs and reconstruct documents in order
    // (graft.ops.Dedup.paragraphPrune). Corpus docs are single-
    // paragraph, so the fixture appends a universal footer (pruned
    // everywhere) and a unique trailer (kept) in BOTH engines
    Query("dedup_paragraph_prune", (s, dir) => {
      val aug = concat(substring(col("text"), 1, 60),
        lit("\n\nsubscribe to our newsletter today"),
        lit("\n\nvisit doc number "), col("doc_id").cast(StringType))
      Dedup.paragraphPrune(
          table(s, dir, "documents").withColumn("aug", aug),
          col("aug"), col("doc_id"), minRepeats = 10)
        .orderBy("doc_id")
    }, Sql(
      """WITH d AS (SELECT doc_id,
           substr(text, 1, 60) || chr(10) || chr(10)
             || 'subscribe to our newsletter today' || chr(10) || chr(10)
             || 'visit doc number ' || CAST(doc_id AS VARCHAR) AS t
           FROM documents),
         pp AS (SELECT doc_id, s['idx'] AS idx, s['para'] AS para FROM
           (SELECT doc_id, unnest(list_transform(generate_series(1, len(arr)),
              i -> {'idx': i, 'para': arr[CAST(i AS INT)]})) AS s
            FROM (SELECT doc_id, regexp_split_to_array(t, '\n\s*\n') AS arr
                  FROM d))),
         b AS (SELECT para FROM (SELECT DISTINCT doc_id, para FROM pp)
               GROUP BY para HAVING count(*) >= 10)
         SELECT pp.doc_id,
           coalesce(string_agg(CASE WHEN b.para IS NULL THEN pp.para END,
             chr(10) || chr(10) ORDER BY pp.idx), '') AS cleaned,
           count(*) AS n_paras,
           CAST(sum(CASE WHEN b.para IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pruned
         FROM pp LEFT JOIN b ON pp.para = b.para
         GROUP BY 1 ORDER BY 1""")),

    // exact dedup: one shuffle on content hash
    Query("dedup_exact", (s, dir) =>
      Dedup.exact(table(s, dir, "documents"), col("text"), col("doc_id"))
        .orderBy("content_hash"),
    Sql(
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
         count(*) AS cluster_size
         FROM documents GROUP BY 1 ORDER BY 1""")),

    // MinHash+LSH near-dup pairs (engine-specific hashes → rows-only;
    // rows-only checks are order-free, so no global sort of the pair
    // set — at scale that is a whole wasted stage over billions of rows)
    Query("dedup_minhash_pairs", (s, dir) =>
      Dedup.minhashLSH(table(s, dir, "documents"), col("text"), col("doc_id"),
        shingleK = 2, numHashes = 16, bands = 8, jaccardThreshold = 0.3,
        materialize = eagerPairs)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard")),
    RowsOnly("graft.ops.DedupSpec")),

    // INCREMENTAL near-dup against the persisted minhash index: store
    // built once over doc_id >= 50 (memoized write-once job), the
    // "crawl increment" (doc_id < 50) is hashed and joined against the
    // stored signatures — no stored text re-read. Rows-only (engine
    // hashing); indexed==inline parity is MinhashIndexSpec-proven
    Query("dedup_minhash_indexed", (s, dir) => {
      val docs = table(s, dir, "documents")
      val store = memoStore("minhash", dir)(p =>
        Dedup.buildMinhashIndex(docs.filter(col("doc_id") >= 50),
          col("text"), col("doc_id"), p,
          shingleK = 2, numHashes = 16, bands = 8))
      Dedup.nearDupAgainstIndex(s, store, docs.filter(col("doc_id") < 50),
        col("text"), col("doc_id"), jaccardThreshold = 0.3,
        materialize = eagerPairs)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    }, RowsOnly("graft.ops.MinhashIndexSpec")),

    // SimHash fingerprint near-dup pairs. maxHamming=7 blocks via
    // multi-index hashing (4×16-bit chunks, per-chunk radius 1):
    // candidate generation is EXACT, verified by DedupSpec against
    // brute force. (rows-only, order-free)
    Query("dedup_simhash_pairs", (s, dir) =>
      Dedup.simhashPairs(table(s, dir, "documents"), col("text"), col("doc_id"),
        maxHamming = 7, materialize = eagerPairs),
    RowsOnly("graft.ops.DedupSpec")),

    // char-3-gram Jaccard near-dup pairs at the standard 0.8 threshold
    // (this corpus's BACKGROUND inter-doc similarity is ~0.45-0.6, so a
    // 0.5 cutoff would make the true answer set itself quadratic; the
    // 0.5-threshold arithmetic is oracled by dedup_ngram_exact_sample).
    // (rows-only; recall vs exact measured in DedupSpec)
    Query("dedup_ngram_pairs", (s, dir) =>
      Dedup.ngramJaccardPairs(table(s, dir, "documents"), col("text"), col("doc_id"),
        n = 3, threshold = 0.8, materialize = eagerPairs)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard")),
    RowsOnly("graft.ops.DedupSpec")),

    // the datasheet's per-source slice: exact-dup rate by source —
    // dedup is rarely uniform (mirrors and content farms concentrate
    // in specific sources), and this is the table that shows where
    Query("dedup_rate_by_source", (s, dir) => {
      val docs = table(s, dir, "documents")
      val w = Window.partitionBy(col("__h")).orderBy(col("doc_id"))
      docs.select(col("source"), col("doc_id"),
          md5(col("text").cast("binary")).as("__h"))
        .withColumn("__rn", row_number().over(w))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__rn") === 1, 1L).otherwise(0L)).as("n_kept"))
        .select(col("source"), col("n_docs"), col("n_kept"),
          (floor((col("n_docs") - col("n_kept")).cast("double") /
            col("n_docs").cast("double") * lit(1e6) + lit(0.5)) / lit(1e6))
            .as("dup_rate"))
        .presentSorted("source")
    }, Sql(
      """WITH r AS (SELECT source, doc_id,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
           FROM documents),
         g AS (SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
           FROM r GROUP BY 1)
         SELECT source, n_docs, n_kept,
           floor(CAST(n_docs - n_kept AS DOUBLE) / CAST(n_docs AS DOUBLE)
             * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE))
             / CAST(1000000 AS DOUBLE) AS dup_rate
         FROM g ORDER BY source""")),

    // cross-modal consistency audit: exact text near-dup pairs
    // (shingle Jaccard >= 0.5, bounded sample) joined to the
    // embedding cosine of the SAME ids — on real data the
    // inconsistent rows (duplicate text, distant vectors) are the
    // embedding-pipeline bugs; text and vector sides share nothing
    // but the id, so this is the integration check
    Query("audit_dup_text_embedding", (s, dir) => {
      val docs = table(s, dir, "documents").filter(col("doc_id") < 300)
      val emb = table(s, dir, "embeddings")
      val pairs = Dedup.shingleJaccardExact(docs, col("text"),
        col("doc_id"), shingleK = 2, threshold = 0.5)
      val cosR = round(Similarity.cosine(col("__va"), col("__vb")), 4)
      pairs
        .join(emb.select(col("vec_id").as("id_a"),
          col("embedding").as("__va")), Seq("id_a"))
        .join(emb.select(col("vec_id").as("id_b"),
          col("embedding").as("__vb")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 6).as("jaccard"),
          cosR.as("cos"), (cosR >= 0.35).as("consistent"))
        .orderBy("id_a", "id_b")
    }, Sql(
      """WITH s AS (SELECT doc_id,
           CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
                ELSE list_transform(generate_series(0, len(toks)-2),
                  i -> toks[CAST(i+1 AS INT)] || ' ' || toks[CAST(i+2 AS INT)]) END AS sh
           FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
                 FROM documents WHERE doc_id < 300)),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(list_distinct(a.sh), list_distinct(b.sh))) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))) AS jac
           FROM s a JOIN s b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(list_distinct(a.sh), list_distinct(b.sh))) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
         j AS (SELECT p.id_a, p.id_b, p.jac,
           round(list_sum(list_transform(list_zip(ea.embedding, eb.embedding),
                   q -> CAST(q[1] AS DOUBLE) * q[2]))
             / (sqrt(list_sum(list_transform(ea.embedding, x -> CAST(x AS DOUBLE) * x)))
                * sqrt(list_sum(list_transform(eb.embedding, x -> CAST(x AS DOUBLE) * x)))),
               4) AS cos
           FROM p JOIN embeddings ea ON ea.vec_id = p.id_a
           JOIN embeddings eb ON eb.vec_id = p.id_b)
         SELECT id_a, id_b, round(jac, 6) AS jaccard, cos,
           cos >= 0.35 AS consistent
         FROM j ORDER BY 1, 2""")),

    // sorted-neighborhood (merge/purge) near-dup: the SORT-based
    // blocking family — global rank by a 24-char key prefix (two-
    // phase bucket rank, no single-task sort), verify only pairs
    // within rank-window 10, exact shingle-Jaccard kernel. Fully
    // oracled: rank and verify are both engine-portable
    Query("dedup_snm_pairs", (s, dir) =>
      Dedup.sortedNeighborhoodPairs(table(s, dir, "documents"),
          col("text"), col("doc_id"),
          sortKeyLen = 24, window = 10, shingleK = 2, threshold = 0.3)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b"),
    Sql(
      """WITH k AS (SELECT doc_id, lower(substr(trim(text), 1, 24)) AS key
           FROM documents),
         r AS (SELECT doc_id, row_number() OVER (ORDER BY key, doc_id) AS rnk
           FROM k),
         cand AS (SELECT a.doc_id AS da, b.doc_id AS db FROM r a JOIN r b
           ON b.rnk > a.rnk AND b.rnk <= a.rnk + 9),
         s AS (SELECT doc_id,
           CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
                ELSE list_transform(generate_series(0, len(toks)-2),
                  i -> toks[CAST(i+1 AS INT)] || ' ' || toks[CAST(i+2 AS INT)]) END AS sh
           FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
                 FROM documents)),
         j AS (SELECT least(da, db) AS id_a, greatest(da, db) AS id_b,
           CAST(len(list_intersect(list_distinct(a.sh), list_distinct(b.sh))) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))) AS jac
           FROM cand JOIN s a ON a.doc_id = cand.da
           JOIN s b ON b.doc_id = cand.db)
         SELECT id_a, id_b, round(jac, 6) AS jaccard FROM j
         WHERE jac >= 0.3 ORDER BY 1, 2""")),

    // INCREMENTAL char-n-gram near-dup: the same persisted-signature
    // store as dedup_minhash_indexed in "chargram" mode (the steep
    // 128×16 S-curve funnel) — increment joins stored signatures, no
    // stored-text re-read (rows-only; indexed==inline proven in
    // MinhashIndexSpec)
    Query("dedup_ngram_indexed", (s, dir) => {
      val docs = table(s, dir, "documents")
      val store = memoStore("ngramidx", dir)(p =>
        Dedup.buildMinhashIndex(docs.filter(col("doc_id") >= 50),
          col("text"), col("doc_id"), p,
          shingleK = 3, numHashes = 128, bands = 16, mode = "chargram"))
      Dedup.nearDupAgainstIndex(s, store, docs.filter(col("doc_id") < 50),
        col("text"), col("doc_id"), jaccardThreshold = 0.8,
        materialize = eagerPairs)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    }, RowsOnly("graft.ops.MinhashIndexSpec")),

    // embedding-cosine near-dup pairs, hyperplane-LSH blocked (rows-only;
    // recall on planted near-dups measured in DedupSpec — the synthetic
    // table's threshold-0.45 tail sits near its background, where no
    // hyperplane scheme is selective, so blocked recall here is S-curve
    // bound; the cosine arithmetic is oracled by dedup_embed_exact_sample)
    Query("dedup_embed_pairs", (s, dir) =>
      Similarity.cosinePairs(table(s, dir, "embeddings"), col("vec_id"), col("embedding"),
        threshold = 0.45, planes = 8, tables = 16),
    RowsOnly("graft.ops.DedupSpec")),

    // INCREMENTAL cosine near-dup: vector store built once (memoized;
    // 16+4·dims bytes/vec), the increment re-buckets under the
    // meta-pinned hyperplanes and joins the store — no stored-vector
    // recompute beyond one fused kernel pass (rows-only;
    // indexed==inline proven in MinhashIndexSpec)
    Query("dedup_embed_indexed", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val store = memoStore("cosidx", dir)(p =>
        Similarity.buildCosineIndex(emb.filter(col("vec_id") >= 50),
          col("vec_id"), col("embedding"), p, planes = 8, tables = 16))
      Similarity.cosinePairsAgainstIndex(s, store,
        emb.filter(col("vec_id") < 50), col("vec_id"), col("embedding"),
        threshold = 0.45, materialize = eagerPairs)
    }, RowsOnly("graft.ops.MinhashIndexSpec")),

    // exact all-pairs cosine over a bounded sample — DuckDB-oracled
    Query("dedup_embed_exact_sample", (s, dir) =>
      Similarity.cosinePairsExact(
        table(s, dir, "embeddings").filter(col("vec_id") < 300),
        col("vec_id"), col("embedding"), threshold = 0.4)
        .orderBy("id_a", "id_b"),
    Sql(
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300),
         p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
                   q -> CAST(q[1] AS DOUBLE) * q[2]))
             / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * x)))
                * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * x)))), 4) AS cos
           FROM e a JOIN e b ON a.vec_id < b.vec_id)
         SELECT id_a, id_b, cos FROM p WHERE cos >= 0.4 ORDER BY 1, 2""")),

    // near-dup clustering: connected components (min-label propagation)
    // over the exact sample pair set — the keep/drop assignment stage of
    // a dedup pipeline; DuckDB-oracled via a recursive-CTE closure
    Query("dedup_cluster_exact_sample", (s, dir) =>
      Dedup.connectedComponents(
        Dedup.ngramJaccardExact(
          table(s, dir, "documents").filter(col("doc_id") < 300),
          col("text"), col("doc_id"), n = 3, threshold = 0.5))
        .orderBy("id"),
    Sql(
      """WITH RECURSIVE g AS (SELECT doc_id,
           list_distinct(list_transform(generate_series(1, greatest(length(t)-2, 1)),
             i -> substring(t, CAST(i AS INT), 3))) AS grams
           FROM (SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS t
                 FROM documents WHERE doc_id < 300)),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM g a JOIN g b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
               / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5),
         e AS (SELECT id_a AS src, id_b AS dst FROM p
               UNION SELECT id_b, id_a FROM p),
         reach(src, dst) AS (
           SELECT src, dst FROM e
           UNION
           SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
         m AS (SELECT src AS id, min(dst) AS mn FROM reach GROUP BY 1)
         SELECT id, least(id, mn) AS cluster FROM m ORDER BY id""")),

    // duplicate-cluster census over the same exact sample: how much
    // of the corpus sits in clusters of which size (singletons
    // included) — the number a dedup run is judged by before anyone
    // looks at pairs. Oracled through the same recursive closure
    Query("dedup_cluster_census", (s, dir) => {
      val docs = table(s, dir, "documents").filter(col("doc_id") < 300)
      val labels = Dedup.connectedComponents(
        Dedup.ngramJaccardExact(docs, col("text"), col("doc_id"),
          n = 3, threshold = 0.5))
      docs.select(col("doc_id").cast("long").as("id"))
        .join(labels, Seq("id"), "left")
        .select(coalesce(col("cluster"), col("id")).as("cluster"))
        .groupBy("cluster").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
        .presentSorted("sz")
    }, Sql(
      """WITH RECURSIVE g AS (SELECT doc_id,
           list_distinct(list_transform(generate_series(1, greatest(length(t)-2, 1)),
             i -> substring(t, CAST(i AS INT), 3))) AS grams
           FROM (SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS t
                 FROM documents WHERE doc_id < 300)),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM g a JOIN g b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
               / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5),
         e AS (SELECT id_a AS src, id_b AS dst FROM p
               UNION SELECT id_b, id_a FROM p),
         reach(src, dst) AS (
           SELECT src, dst FROM e
           UNION
           SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
         m AS (SELECT src AS id, min(dst) AS mn FROM reach GROUP BY 1),
         lbl AS (SELECT d.doc_id AS id,
             coalesce(least(m.id, m.mn), d.doc_id) AS cluster
           FROM documents d LEFT JOIN m ON d.doc_id = m.id
           WHERE d.doc_id < 300),
         cs AS (SELECT cluster, count(*) AS sz FROM lbl GROUP BY 1)
         SELECT sz, count(*) AS n_clusters FROM cs GROUP BY 1 ORDER BY sz""")),

    // doc-in-doc CONTAINMENT pairs via winnowing-fingerprint candidates
    // + exact k-gram verification — the duplication mode Jaccard
    // funnels are structurally blind to (rows-only: winnowed candidate
    // generation is engine-local; the containment arithmetic is
    // DuckDB-oracled by dedup_contain_exact_sample; the
    // Jaccard-blind/winnow-guarantee properties are DedupSpec-tested)
    Query("dedup_contain_pairs", (s, dir) =>
      // bucketCap 200: this corpus has template boilerplate whose
      // fingerprints land in up-to-3280-doc buckets — zero containment
      // signal (a fingerprint shared by most docs is a stopword), and
      // uncapped they mint 15.6M candidate rows at sf0.1
      Dedup.containmentPairs(table(s, dir, "documents"), col("text"), col("doc_id"),
        k = 8, w = 24, threshold = 0.5, bucketCap = 200, materialize = eagerPairs)
        .select(col("id_a"), col("id_b"), round(col("containment"), 6).as("containment")),
    RowsOnly("graft.ops.DedupSpec")),

    // INCREMENTAL containment: fingerprint+gram store built once
    // (memoized), the increment's winnow fingerprints join stored
    // ones under the same boilerplate cap — stored text never
    // re-read (rows-only; indexed==inline proven in MinhashIndexSpec)
    Query("dedup_contain_indexed", (s, dir) => {
      val docs = table(s, dir, "documents")
      val store = memoStore("ctidx", dir)(p =>
        Dedup.buildContainmentIndex(docs.filter(col("doc_id") >= 50),
          col("text"), col("doc_id"), p))
      Dedup.containmentAgainstIndex(s, store, docs.filter(col("doc_id") < 50),
        col("text"), col("doc_id"), threshold = 0.5, bucketCap = 200,
        materialize = eagerPairs)
        .select(col("id_a"), col("id_b"), round(col("containment"), 6).as("containment"))
    }, RowsOnly("graft.ops.MinhashIndexSpec")),

    // exact all-pairs char-8-gram containment over a bounded sample —
    // the DuckDB-oracled twin of dedup_contain_pairs' arithmetic
    Query("dedup_contain_exact_sample", (s, dir) =>
      Dedup.containmentExact(
        table(s, dir, "documents").filter(col("doc_id") < 300),
        col("text"), col("doc_id"), n = 8, threshold = 0.4)
        .select(col("id_a"), col("id_b"), round(col("containment"), 6).as("containment"))
        .orderBy("id_a", "id_b"),
    Sql(
      """WITH g AS (SELECT doc_id,
           list_distinct(list_transform(generate_series(1, greatest(length(t)-7, 1)),
             i -> substring(t, CAST(i AS INT), 8))) AS grams
           FROM (SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS t
                 FROM documents WHERE doc_id < 300))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / least(len(a.grams), len(b.grams)), 6) AS containment
         FROM g a JOIN g b ON a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / least(len(a.grams), len(b.grams)) >= 0.4
         ORDER BY 1, 2""")),

    // exact all-pairs char-3-gram Jaccard over a bounded deterministic
    // sample — the DuckDB-oracled twin of dedup_ngram_pairs' arithmetic
    Query("dedup_ngram_exact_sample", (s, dir) =>
      Dedup.ngramJaccardExact(
        table(s, dir, "documents").filter(col("doc_id") < 300),
        col("text"), col("doc_id"), n = 3, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b"),
    Sql(
      """WITH g AS (SELECT doc_id,
           list_distinct(list_transform(generate_series(1, greatest(length(t)-2, 1)),
             i -> substring(t, CAST(i AS INT), 3))) AS grams
           FROM (SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS t
                 FROM documents WHERE doc_id < 300))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / len(list_distinct(list_concat(a.grams, b.grams))), 6) AS jaccard
         FROM g a JOIN g b ON a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5
         ORDER BY 1,2""")),

    // exact all-pairs word-2-shingle Jaccard over the same sample — the
    // DuckDB-oracled twin of dedup_minhash_pairs' verification stage
    Query("dedup_shingle_exact_sample", (s, dir) =>
      Dedup.shingleJaccardExact(
        table(s, dir, "documents").filter(col("doc_id") < 300),
        col("text"), col("doc_id"), shingleK = 2, threshold = 0.3)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b"),
    Sql(
      """WITH s AS (SELECT doc_id,
           CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
                ELSE list_transform(generate_series(0, len(toks)-2),
                  i -> toks[CAST(i+1 AS INT)] || ' ' || toks[CAST(i+2 AS INT)]) END AS sh
           FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
                 FROM documents WHERE doc_id < 300))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(list_distinct(a.sh), list_distinct(b.sh))) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
         FROM s a JOIN s b ON a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(list_distinct(a.sh), list_distinct(b.sh))) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.3
         ORDER BY 1,2""")),

    // homoglyph-robust exact dedup: planted lookalike twins (every
    // 20th doc re-spelled through the confusable map) group with
    // their originals under fold-then-lower — plain exact dedup is
    // blind to them (spec-pinned); groups → (id_a=min, id_b) pairs,
    // oracled through the same translate table
    Query("dedup_confusable_pairs", (s, dir) => {
      val docs = table(s, dir, "documents")
      val planted = docs.filter(pmod(col("doc_id"), lit(20)) === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          translate(col("text"), confuseFrom, confuseTo).as("text"))
      val all = docs.select(col("doc_id"), col("text")).unionByName(planted)
      all.groupBy(md5(lower(
          graft.functions.GraftFunctions.confusableFold(col("text")))).as("k"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .filter(size(col("ids")) >= 2)
        .select(element_at(col("ids"), 1).as("id_a"),
          explode(slice(col("ids"), 2, 1000000)).as("id_b"))
        .orderBy("id_a", "id_b")
    }, Sql(
      s"""WITH planted AS (SELECT doc_id + 3000000 AS doc_id,
             translate(text, '${sqlLit(confuseFrom)}', '${sqlLit(confuseTo)}') AS text
           FROM documents WHERE doc_id % 20 = 0),
         ad AS (SELECT doc_id, text FROM documents
                UNION ALL SELECT doc_id, text FROM planted),
         g AS (SELECT md5(lower(translate(text, '${sqlLit(foldFrom)}', '${sqlLit(foldTo)}'))) AS k,
                 doc_id FROM ad),
         gg AS (SELECT k, list_sort(list(doc_id)) AS ids FROM g GROUP BY 1)
         SELECT ids[1] AS id_a, unnest(ids[2:]) AS id_b
         FROM gg WHERE len(ids) >= 2 ORDER BY 1, 2""")),

    // SEMDEDUP (graft.ops.Similarity.semanticDedup, public: Abbas et
    // al. 2023): k-means-clustered embedding space, within-cluster
    // cosine pairs → connected duplicate groups → one keeper per group
    // by the paper's low-centroid-similarity rule. Rows-only (k-means
    // fit isn't oracle-portable); the funnel arithmetic is oracled by
    // the label-blocked twin below and recall by DedupSpec
    Query("semdedup_kept", (s, dir) =>
      Similarity.semanticDedup(table(s, dir, "embeddings"),
          col("vec_id"), col("embedding"), nClusters = 16,
          threshold = 0.4, materialize = eagerPairs)
        .orderBy("vec_id"),
    RowsOnly("graft.ops.SemDedupSpec")),

    // fully-oracled SemDeDup twin: clusters = the labeled domain
    // column, centroids = 6dp-rounded per-label means — every stage
    // (pair cosine, component closure, centroid cosine, keeper
    // marking) deterministic and reproduced verbatim in DuckDB
    Query("semdedup_label_exact", (s, dir) =>
      Similarity.semanticDedupByCluster(
          table(s, dir, "embeddings").filter(col("vec_id") < 300),
          col("vec_id"), col("embedding"), col("label"),
          threshold = 0.35, materialize = eagerPairs)
        .orderBy("vec_id"),
    Sql(
      """WITH RECURSIVE e AS (SELECT vec_id, label, embedding
           FROM embeddings WHERE vec_id < 300),
         cent AS (SELECT label, pos, round(avg(CAST(v AS DOUBLE)), 6) AS m
           FROM (SELECT label, unnest(embedding) AS v,
                   generate_subscripts(embedding, 1) AS pos FROM e)
           GROUP BY 1, 2),
         cl AS (SELECT label, list(m ORDER BY pos) AS cvec
           FROM cent GROUP BY 1),
         p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
           WHERE round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
                   q -> CAST(q[1] AS DOUBLE) * q[2]))
             / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * x)))
                * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * x)))),
               4) >= 0.35),
         ed AS (SELECT id_a AS src, id_b AS dst FROM p
               UNION SELECT id_b, id_a FROM p),
         reach(src, dst) AS (
           SELECT src, dst FROM ed
           UNION
           SELECT r.src, ed.dst FROM reach r JOIN ed ON r.dst = ed.src),
         mm AS (SELECT src AS id, min(dst) AS mn FROM reach GROUP BY 1),
         comp AS (SELECT e.vec_id, e.label, e.embedding,
             coalesce(least(mm.id, mm.mn), e.vec_id) AS component
           FROM e LEFT JOIN mm ON e.vec_id = mm.id),
         cs AS (SELECT c.vec_id, c.label, c.component,
             round(list_sum(list_transform(list_zip(c.embedding, cl.cvec),
                     q -> CAST(q[1] AS DOUBLE) * q[2]))
               / (sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * x)))
                  * sqrt(list_sum(list_transform(cl.cvec, x -> x * x)))),
                 4) AS ccos
           FROM comp c JOIN cl ON c.label = cl.label)
         SELECT vec_id, CAST(label AS BIGINT) AS cluster, component, ccos,
           CAST(row_number() OVER (PARTITION BY component
               ORDER BY ccos ASC, vec_id ASC) = 1 AS BIGINT) AS keep
         FROM cs ORDER BY vec_id""")),
  )
}
