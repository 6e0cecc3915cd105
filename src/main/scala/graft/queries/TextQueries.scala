package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops._
import graft.queries.Oracle.{RowsOnly, Sql}
/** Text curation: normalization and quality signals, language ID and
  * classification, n-gram LMs, BPE, vocabulary and collocations,
  * sampling, splits, data mixing, DSIR and span scrubbing. */
object TextQueries {

  import graft.SparkEntry._

  /** Shared CTE chain of the BPE exact-sample oracles: strict
    * (maxBatch=1) BPE training unrolled `n` rounds over the full
    * corpus word table — w/wi/c/s0/sl0 plus per-round
    * p_t/m_t/cand_t/keep_t/sl_t. Per round: the argmax pair over the
    * long-format symbol table, then greedy left-to-right
    * non-overlapping application — candidate positions grouped into
    * runs of consecutive matches (pos - row_number), keeping even
    * offsets from each run head, which IS the left-to-right rule (a
    * freshly merged symbol never re-merges in-pass). MATERIALIZED
    * everywhere: each round references its predecessor 3x and plain
    * CTE inlining goes exponential. Callers prepend "WITH " and
    * append their final SELECT over m1..m`n` / sl`n`. */
  private def bpeTrainSql(n: Int): String = {
    def round(t: Int): String = {
      val p = s"sl${t - 1}"
      s"""p$t AS MATERIALIZED (SELECT s.wid, s.pos, s.sym AS a,
             nx.sym AS b, s.wcount
           FROM $p s JOIN $p nx ON nx.wid = s.wid AND nx.pos = s.pos + 1),
         m$t AS MATERIALIZED (SELECT a, b,
             CAST(sum(wcount) AS BIGINT) AS freq FROM p$t
           GROUP BY 1, 2 ORDER BY freq DESC, a, b LIMIT 1),
         cand$t AS MATERIALIZED (SELECT p.wid, p.pos FROM p$t p, m$t m
           WHERE p.a = m.a AND p.b = m.b),
         keep$t AS MATERIALIZED (SELECT wid, pos FROM
             (SELECT wid, pos, min(pos) OVER (PARTITION BY wid, grp) AS rs
              FROM (SELECT wid, pos,
                  pos - row_number() OVER (PARTITION BY wid ORDER BY pos) AS grp
                FROM cand$t))
           WHERE (pos - rs) % 2 = 0),
         sl$t AS MATERIALIZED (SELECT wid, wcount,
             row_number() OVER (PARTITION BY wid ORDER BY pos) AS pos, sym
           FROM (SELECT s.wid, s.wcount, s.pos,
               CASE WHEN k.pos IS NOT NULL
                 THEN s.sym || (SELECT b FROM m$t) ELSE s.sym END AS sym
             FROM $p s
             LEFT JOIN keep$t k ON s.wid = k.wid AND s.pos = k.pos
             LEFT JOIN keep$t k2 ON s.wid = k2.wid AND s.pos = k2.pos + 1
             WHERE k2.pos IS NULL))"""
    }
    val rounds = (1 to n).map(round).mkString(",\n         ")
    s"""w AS MATERIALIZED (SELECT word, count(*) AS wcount FROM
           (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
            FROM documents) t
           WHERE length(word) > 0 GROUP BY 1),
       wi AS MATERIALIZED (SELECT row_number() OVER (ORDER BY word) AS wid,
           word, wcount FROM w),
       c AS MATERIALIZED (SELECT wid, wcount,
           regexp_split_to_array(word, '') AS ch FROM wi),
       s0 AS MATERIALIZED (SELECT wid, wcount,
           unnest(generate_series(1, len(ch))) AS pos, ch FROM c),
       sl0 AS MATERIALIZED (SELECT wid, wcount, pos, ch[pos] AS sym FROM s0),
       $rounds"""
  }

  /** Multi-dot abbreviation protection as a DuckDB replace chain —
    * generated from [[graft.ops.TextOps.SentMultiDotAbbrevs]] so the
    * `text_sentences` oracle and the engine share one constant list
    * (each dot becomes chr(1), restored after the split). */
  private val sentMultiFoldSql: String =
    TextOps.SentMultiDotAbbrevs.foldLeft("s") { (acc, a) =>
      val repl = a.split("\\.").map(p => s"'$p'")
        .mkString(" || chr(1) || ") + " || chr(1)"
      s"replace($acc, '$a', $repl)"
    }

  /** Word-bounded single-abbreviation protection, generated from
    * [[graft.ops.TextOps.SentAbbrevs]] — same shared-constant
    * contract as [[sentMultiFoldSql]]. */
  private val sentAbbrevFoldSql: String =
    TextOps.SentAbbrevs.foldLeft("s") { (acc, a) =>
      s"regexp_replace($acc, '\\b$a\\.', '$a' || chr(1), 'g')"
    }

  private def langPhraseSql(langCol: String): String =
    "CASE " + langCol + " " + LangPhrases.map {
      case (l, p) => s"WHEN '$l' THEN '$p'"
    }.mkString(" ") + " ELSE '' END"

  /** Shared CTE chain of the two DSIR oracles: hashed unigram∪bigram
    * bucket counts (4-nibble md5 bucket, B=4096), add-α target/raw
    * log-ratio per document — `w` = (doc_id, n_grams, logw). */
  private val dsirWeightsCte: String =
    s"""toks AS (SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS t
           FROM documents),
         uni AS (SELECT doc_id, unnest(t) AS g FROM toks),
         big0 AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks),
         big AS (SELECT doc_id, t[i] || ' ' || t[i + 1] AS g FROM big0),
         grams AS (SELECT doc_id, g FROM uni
           UNION ALL SELECT doc_id, g FROM big),
         d AS (SELECT doc_id, ${hexValSql("md5(g)", 4)} % 4096 AS b,
             count(*) AS c
           FROM grams GROUP BY 1, 2),
         fl AS (SELECT doc_id, (lang = 'en') AS is_t FROM documents),
         gb AS (SELECT b, sum(c) AS cr,
             sum(CASE WHEN is_t THEN c ELSE 0 END) AS ct
           FROM d JOIN fl USING (doc_id) GROUP BY 1),
         tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM gb),
         w AS (SELECT d.doc_id, CAST(sum(d.c) AS BIGINT) AS n_grams,
             round(sum(d.c * (ln((gb.ct + 0.25) / (tot.nt + 0.25 * 4096))
                            - ln((gb.cr + 0.25) / (tot.nr + 0.25 * 4096)))),
               6) AS logw
           FROM d JOIN gb USING (b) CROSS JOIN tot GROUP BY 1)"""

  val rows: Seq[Query] = Seq(

    // MODEL-BASED QUALITY: multinomial Naive-Bayes classifier
    // (graft.ops.Classify) — the closed-form fastText-style filter;
    // trained on the train split's lang=='en' label, scored on the
    // test split. Counting-only training makes the fitted model
    // engine-exact, so per-doc scores oracle at 6 dp
    Query("classify_nb_score", (s, dir) => {
      val docs = table(s, dir, "documents")
      val (w, m) = Classify.fitNaiveBayes(
        docs.filter(col("doc_id") % 5 =!= 0), col("text"),
        col("lang") === "en", alpha = 0.5)
      Classify.scoreNaiveBayes(docs.filter(col("doc_id") % 5 === 0),
          col("text"), col("doc_id"), w, m)
        .orderBy("doc_id")
    }, Sql(
      """WITH d AS (SELECT doc_id,
             CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
             regexp_split_to_array(lower(trim(text)), '\s+') AS toks
           FROM documents),
         tok AS (SELECT doc_id, y, unnest(toks) AS token FROM d),
         trc AS (SELECT token, sum(y) AS c1, sum(1.0 - y) AS c0
                 FROM tok WHERE doc_id % 5 != 0 GROUP BY 1),
         tot AS (SELECT sum(c1) AS n1, sum(c0) AS n0,
                        CAST(count(*) AS DOUBLE) AS v FROM trc),
         pri AS (SELECT sum(y) AS d1, sum(1.0 - y) AS d0 FROM d
                 WHERE doc_id % 5 != 0),
         w AS (SELECT token,
                 ln((c1 + 0.5) / (n1 + 0.5 * v)) -
                 ln((c0 + 0.5) / (n0 + 0.5 * v)) AS w FROM trc, tot),
         meta AS (SELECT ln(d1) - ln(d0) AS intercept,
                    ln(0.5 / (n1 + 0.5 * v)) - ln(0.5 / (n0 + 0.5 * v))
                      AS w_oov FROM tot, pri),
         tc AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS n
                FROM tok WHERE doc_id % 5 = 0 GROUP BY 1, 2),
         sc AS (SELECT tc.doc_id, sum(tc.n) AS nt,
                  max(meta.intercept) +
                    sum(tc.n * coalesce(w.w, meta.w_oov)) AS s
                FROM tc LEFT JOIN w ON tc.token = w.token
                CROSS JOIN meta GROUP BY tc.doc_id)
         SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
           round(s, 6) AS score,
           round(1.0 / (1.0 + exp(-s)), 6) AS prob,
           CAST(CASE WHEN s >= 0 THEN 1 ELSE 0 END AS BIGINT) AS pred
         FROM sc ORDER BY doc_id""")),

    // calibration curve of the held-out NB probabilities: decile
    // buckets of predicted prob vs observed positive rate — the
    // reliability diagram that tells you whether a 0.9-score doc is
    // actually 90% likely English before you trust the filter's
    // threshold at scale
    Query("classify_nb_calibration", (s, dir) => {
      val docs = table(s, dir, "documents")
      val (w, m) = Classify.fitNaiveBayes(
        docs.filter(col("doc_id") % 5 =!= 0), col("text"),
        col("lang") === "en", alpha = 0.5)
      val scored = Classify.scoreNaiveBayes(docs.filter(col("doc_id") % 5 === 0),
        col("text"), col("doc_id"), w, m)
      scored
        .join(docs.select(col("doc_id"),
          (col("lang") === "en").cast("int").as("__y")), Seq("doc_id"))
        .select(least(floor(col("prob") * lit(10)), lit(9L)).cast("long")
          .as("bucket"), col("__y"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), sum(col("__y")).cast("long").as("pos"))
        .select(col("bucket"), col("n"), col("pos"),
          (floor(col("pos").cast("double") / col("n").cast("double") *
            lit(1e6) + lit(0.5)) / lit(1e6)).as("obs_rate"),
          ((col("bucket").cast("double") + lit(0.5)) / lit(10.0)).as("mid"))
        .presentSorted("bucket")
    }, Sql(
      """WITH d AS (SELECT doc_id,
             CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
             regexp_split_to_array(lower(trim(text)), '\s+') AS toks
           FROM documents),
         tok AS (SELECT doc_id, y, unnest(toks) AS token FROM d),
         trc AS (SELECT token, sum(y) AS c1, sum(1.0 - y) AS c0
                 FROM tok WHERE doc_id % 5 != 0 GROUP BY 1),
         tot AS (SELECT sum(c1) AS n1, sum(c0) AS n0,
                        CAST(count(*) AS DOUBLE) AS v FROM trc),
         pri AS (SELECT sum(y) AS d1, sum(1.0 - y) AS d0 FROM d
                 WHERE doc_id % 5 != 0),
         w AS (SELECT token,
                 ln((c1 + 0.5) / (n1 + 0.5 * v)) -
                 ln((c0 + 0.5) / (n0 + 0.5 * v)) AS w FROM trc, tot),
         meta AS (SELECT ln(d1) - ln(d0) AS intercept,
                    ln(0.5 / (n1 + 0.5 * v)) - ln(0.5 / (n0 + 0.5 * v))
                      AS w_oov FROM tot, pri),
         tc AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS n
                FROM tok WHERE doc_id % 5 = 0 GROUP BY 1, 2),
         sc AS (SELECT tc.doc_id,
                  max(meta.intercept) +
                    sum(tc.n * coalesce(w.w, meta.w_oov)) AS s
                FROM tc LEFT JOIN w ON tc.token = w.token
                CROSS JOIN meta GROUP BY tc.doc_id),
         sc2 AS (SELECT doc_id, round(1.0 / (1.0 + exp(-s)), 6) AS prob
                 FROM sc),
         yb AS (SELECT sc2.doc_id, sc2.prob,
                  CASE WHEN d2.lang = 'en' THEN 1 ELSE 0 END AS y
                FROM sc2 JOIN documents d2 USING (doc_id)),
         b AS (SELECT CAST(least(floor(prob * 10), 9) AS BIGINT) AS bucket,
                 count(*) AS n, CAST(sum(y) AS BIGINT) AS pos
               FROM yb GROUP BY 1)
         SELECT bucket, n, pos,
           floor(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
             * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE))
             / CAST(1000000 AS DOUBLE) AS obs_rate,
           (CAST(bucket AS DOUBLE) + CAST(0.5 AS DOUBLE))
             / CAST(10 AS DOUBLE) AS mid
         FROM b ORDER BY bucket""")),

    // the classifier's held-out confusion + precision/recall/F1 —
    // the one-row health report a quality-filter fit job emits
    Query("classify_nb_eval", (s, dir) => {
      val docs = table(s, dir, "documents")
      val (w, m) = Classify.fitNaiveBayes(
        docs.filter(col("doc_id") % 5 =!= 0), col("text"),
        col("lang") === "en", alpha = 0.5)
      val scored = Classify.scoreNaiveBayes(
        docs.filter(col("doc_id") % 5 === 0), col("text"), col("doc_id"),
        w, m)
      Classify.evalBinary(
        scored.join(docs.select(col("doc_id"),
          (col("lang") === "en").cast("int").as("y")), Seq("doc_id")),
        col("y"))
    }, Sql(
      """WITH d AS (SELECT doc_id,
             CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
             regexp_split_to_array(lower(trim(text)), '\s+') AS toks
           FROM documents),
         tok AS (SELECT doc_id, y, unnest(toks) AS token FROM d),
         trc AS (SELECT token, sum(y) AS c1, sum(1.0 - y) AS c0
                 FROM tok WHERE doc_id % 5 != 0 GROUP BY 1),
         tot AS (SELECT sum(c1) AS n1, sum(c0) AS n0,
                        CAST(count(*) AS DOUBLE) AS v FROM trc),
         pri AS (SELECT sum(y) AS d1, sum(1.0 - y) AS d0 FROM d
                 WHERE doc_id % 5 != 0),
         w AS (SELECT token,
                 ln((c1 + 0.5) / (n1 + 0.5 * v)) -
                 ln((c0 + 0.5) / (n0 + 0.5 * v)) AS w FROM trc, tot),
         meta AS (SELECT ln(d1) - ln(d0) AS intercept,
                    ln(0.5 / (n1 + 0.5 * v)) - ln(0.5 / (n0 + 0.5 * v))
                      AS w_oov FROM tot, pri),
         tc AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS n
                FROM tok WHERE doc_id % 5 = 0 GROUP BY 1, 2),
         sc AS (SELECT tc.doc_id, max(meta.intercept) +
                    sum(tc.n * coalesce(w.w, meta.w_oov)) AS s
                FROM tc LEFT JOIN w ON tc.token = w.token
                CROSS JOIN meta GROUP BY tc.doc_id),
         ev AS (SELECT CASE WHEN s >= 0 THEN 1 ELSE 0 END AS p,
                  CAST(d.y AS INT) AS yy
                FROM sc JOIN d ON sc.doc_id = d.doc_id),
         cf AS (SELECT
             CAST(sum(CASE WHEN yy = 1 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN yy = 0 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN yy = 1 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(sum(CASE WHEN yy = 0 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
           FROM ev)
         SELECT tp, fp, fn, tn,
           round(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn), 6) AS accuracy,
           round(CASE WHEN tp + fp = 0 THEN 0.0
                      ELSE CAST(tp AS DOUBLE) / (tp + fp) END, 6) AS "precision",
           round(CASE WHEN tp + fn = 0 THEN 0.0
                      ELSE CAST(tp AS DOUBLE) / (tp + fn) END, 6) AS recall,
           round(CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
                      ELSE CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn) END, 6)
             AS f1
         FROM cf""")),

    // multi-class NB: predict the language directly (5-way argmax
    // over dense token x class weights, tie broken by class name so
    // the prediction is engine-deterministic); output is the held-out
    // confusion matrix against the labeled lang column
    Query("classify_nb_lang_confusion", (s, dir) => {
      val docs = table(s, dir, "documents")
      val (w, m) = Classify.fitNaiveBayesMulti(
        docs.filter(col("doc_id") % 5 =!= 0), col("text"), col("lang"))
      Classify.scoreNaiveBayesMulti(docs.filter(col("doc_id") % 5 === 0),
          col("text"), col("doc_id"), w, m)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
        .presentSorted("lang", "pred")
    }, Sql(
      """WITH d AS (SELECT doc_id, lang,
             regexp_split_to_array(lower(trim(text)), '\s+') AS toks
           FROM documents),
         tok AS (SELECT doc_id, lang, unnest(toks) AS token FROM d),
         trc AS (SELECT lang AS cls, token, CAST(count(*) AS DOUBLE) AS ctc
                 FROM tok WHERE doc_id % 5 != 0 GROUP BY 1, 2),
         ct AS (SELECT cls, sum(ctc) AS nc FROM trc GROUP BY 1),
         vocab AS (SELECT DISTINCT token FROM trc),
         vv AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM vocab),
         nd AS (SELECT CAST(count(*) AS DOUBLE) AS ndocs FROM d
                WHERE doc_id % 5 != 0),
         meta AS (SELECT lang AS cls,
             ln(CAST(count(*) AS DOUBLE) / (SELECT ndocs FROM nd)) AS prior
           FROM d WHERE doc_id % 5 != 0 GROUP BY 1),
         mo AS (SELECT cls, ln(0.5 / (nc + 0.5 * (SELECT v FROM vv)))
                  AS w_oov FROM ct),
         dense AS (SELECT v2.token, c.cls,
             ln((coalesce(t.ctc, 0) + 0.5) /
                (c.nc + 0.5 * (SELECT v FROM vv))) AS w
           FROM vocab v2 CROSS JOIN ct c
           LEFT JOIN trc t ON t.cls = c.cls AND t.token = v2.token),
         tc AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS n
                FROM tok WHERE doc_id % 5 = 0 GROUP BY 1, 2),
         sc AS (SELECT tc.doc_id, mo.cls,
             sum(tc.n * coalesce(dense.w, mo.w_oov)) AS s
           FROM tc CROSS JOIN mo
           LEFT JOIN dense ON dense.cls = mo.cls AND dense.token = tc.token
           GROUP BY 1, 2),
         fin AS (SELECT sc.doc_id, sc.cls,
             row_number() OVER (PARTITION BY sc.doc_id
               ORDER BY sc.s + meta.prior DESC, sc.cls) AS rk
           FROM sc JOIN meta ON meta.cls = sc.cls),
         pred AS (SELECT doc_id, cls AS pred FROM fin WHERE rk = 1)
         SELECT d.lang, p.pred, count(*) AS n
         FROM pred p JOIN d ON d.doc_id = p.doc_id
         GROUP BY 1, 2 ORDER BY 1, 2""")),

    // char-3-gram NB language ID — the upgrade over the marker-token
    // heuristic (text_langid_quality): character n-grams capture
    // orthography rather than vocabulary (Cavnar & Trenkle), training
    // is engine-exact counting, and tokenization is pure built-in
    // substr/sequence so the ORACLE retrains the same model in SQL.
    // The corpus text is language-independent token soup, so the
    // fixture appends a per-language phrase keyed by the LABEL (both
    // sides generated from the same Scala constant) — the model must
    // learn the orthographic grams through ~600 chars of shared-
    // vocabulary noise per doc; output is the held-out confusion vs
    // the labeled lang column (accuracy floor lives in METRICS)
    Query("langid_nb_eval", (s, dir) => {
      val marked = langMarkedDocs(table(s, dir, "documents"))
      val grams = (t: Column) => Classify.charGrams(t, 3)
      val (w, m) = Classify.fitNaiveBayesMulti(
        marked.filter(col("doc_id") % 5 =!= 0), col("mtext"), col("lang"),
        tok = grams)
      Classify.scoreNaiveBayesMulti(marked.filter(col("doc_id") % 5 === 0),
          col("mtext"), col("doc_id"), w, m, tok = grams,
          broadcastModel = true)
        .join(marked.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
        .presentSorted("lang", "pred")
    }, Sql(
      s"""WITH d AS (SELECT doc_id, lang,
             lower(trim(text || ' ' || ${langPhraseSql("lang")})) AS t
           FROM documents),
         gi AS (SELECT doc_id, lang, t,
             unnest(generate_series(1, greatest(length(t) - 2, 1))) AS i
           FROM d),
         tok AS (SELECT doc_id, lang, substr(t, i, 3) AS token FROM gi
                 WHERE length(t) >= 3),
         trc AS (SELECT lang AS cls, token, CAST(count(*) AS DOUBLE) AS ctc
                 FROM tok WHERE doc_id % 5 != 0 GROUP BY 1, 2),
         ct AS (SELECT cls, sum(ctc) AS nc FROM trc GROUP BY 1),
         vocab AS (SELECT DISTINCT token FROM trc),
         vv AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM vocab),
         nd AS (SELECT CAST(count(*) AS DOUBLE) AS ndocs FROM d
                WHERE doc_id % 5 != 0),
         meta AS (SELECT lang AS cls,
             ln(CAST(count(*) AS DOUBLE) / (SELECT ndocs FROM nd)) AS prior
           FROM d WHERE doc_id % 5 != 0 GROUP BY 1),
         mo AS (SELECT cls, ln(0.5 / (nc + 0.5 * (SELECT v FROM vv)))
                  AS w_oov FROM ct),
         dense AS (SELECT v2.token, c.cls,
             ln((coalesce(t.ctc, 0) + 0.5) /
                (c.nc + 0.5 * (SELECT v FROM vv))) AS w
           FROM vocab v2 CROSS JOIN ct c
           LEFT JOIN trc t ON t.cls = c.cls AND t.token = v2.token),
         tc AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS n
                FROM tok WHERE doc_id % 5 = 0 GROUP BY 1, 2),
         sc AS (SELECT tc.doc_id, mo.cls,
             sum(tc.n * coalesce(dense.w, mo.w_oov)) AS s
           FROM tc CROSS JOIN mo
           LEFT JOIN dense ON dense.cls = mo.cls AND dense.token = tc.token
           GROUP BY 1, 2),
         fin AS (SELECT sc.doc_id, sc.cls,
             row_number() OVER (PARTITION BY sc.doc_id
               ORDER BY sc.s + meta.prior DESC, sc.cls) AS rk
           FROM sc JOIN meta ON meta.cls = sc.cls),
         pred AS (SELECT doc_id, cls AS pred FROM fin WHERE rk = 1)
         SELECT d.lang, p.pred, count(*) AS n
         FROM pred p JOIN d ON d.doc_id = p.doc_id
         GROUP BY 1, 2 ORDER BY 1, 2""")),

    // DATA MIX: deterministic token-budget composition per source
    // (graft.ops.Mix) — md5(id·seed) shuffle order is portable across
    // engines, so the kept set is identical in the DuckDB oracle
    Query("mix_token_budget", (s, dir) =>
      Mix.build(table(s, dir, "documents"), col("text"), col("doc_id"),
          col("source"), defaultBudget = 700L,
          budgets = Map("src0" -> 200L, "src1" -> 1200L), seed = 7L)
        .orderBy("source", "cum_tokens", "doc_id"),
    Sql(
      """WITH d AS (SELECT doc_id, source,
             CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT)
               AS n_tokens,
             md5(CAST(doc_id AS VARCHAR) || '#7') AS ord FROM documents),
         c AS (SELECT doc_id, source, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY ord, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_tokens
           FROM d)
         SELECT doc_id, source, n_tokens, cum_tokens FROM c
         WHERE cum_tokens <= CASE source WHEN 'src0' THEN 200
                                         WHEN 'src1' THEN 1200
                                         ELSE 700 END
         ORDER BY source, cum_tokens, doc_id""")),

    // temperature-scaled mixture: per-source weights n^alpha/sum and
    // the budgets they allocate (Mix.temperatureBudgets), plus the
    // full selection under those budgets (Mix.buildTemperature)
    Query("mix_temperature_weights", (s, dir) =>
      Mix.temperatureBudgets(table(s, dir, "documents"), col("text"),
          col("source"), totalBudget = 12000L, alpha = 0.5)
        .presentSorted("source"),
    Sql(
      """WITH tok AS (SELECT source,
           CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) AS n
           FROM documents WHERE text IS NOT NULL),
         s AS (SELECT source, CAST(sum(n) AS BIGINT) AS src_tokens
               FROM tok GROUP BY 1),
         p AS (SELECT source, src_tokens,
               power(CAST(src_tokens AS DOUBLE), 0.5) AS pp FROM s)
         SELECT source, src_tokens,
           round(pp / sum(pp) OVER (), 6) AS weight,
           CAST(floor(12000 * round(pp / sum(pp) OVER (), 6)) AS BIGINT) AS budget
         FROM p ORDER BY source""")),

    Query("mix_temperature_build", (s, dir) =>
      Mix.buildTemperature(table(s, dir, "documents"), col("text"),
          col("doc_id"), col("source"), totalBudget = 12000L, alpha = 0.5,
          seed = 7L)
        .orderBy("source", "cum_tokens", "doc_id"),
    Sql(
      """WITH d AS (SELECT doc_id, source,
           CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT)
             AS n_tokens,
           md5(CAST(doc_id AS VARCHAR) || '#7') AS ord
           FROM documents WHERE text IS NOT NULL),
         s AS (SELECT source, power(CAST(sum(n_tokens) AS DOUBLE), 0.5) AS pp
               FROM d GROUP BY 1),
         b AS (SELECT source,
               CAST(floor(12000 * round(pp / sum(pp) OVER (), 6)) AS BIGINT)
                 AS budget FROM s),
         c AS (SELECT doc_id, source, n_tokens,
           CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY ord, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_tokens FROM d)
         SELECT c.doc_id, c.source, c.n_tokens, c.cum_tokens
         FROM c JOIN b USING (source) WHERE c.cum_tokens <= b.budget
         ORDER BY c.source, c.cum_tokens, c.doc_id""")),

    // EPOCH UPSAMPLING: the multiplicity half of the data mix — per
    // source, ⌈f⌉ deterministic epochs with the fractional last epoch
    // hash-selected (graft.ops.Mix.upsample); md5 hex-threshold
    // selection is portable verbatim to the oracle. Explode-only plan
    Query("mix_epoch_upsample", (s, dir) =>
      Mix.upsample(table(s, dir, "documents"), col("doc_id"), col("source"),
          defaultFactor = 1.25,
          factors = Map("src0" -> 2.5, "src1" -> 1.0), seed = 0L)
        .select(col("doc_id"), col("source"), col("epoch").cast(LongType).as("epoch"))
        .orderBy("doc_id", "epoch"),
    Sql(
      """WITH d AS (SELECT doc_id, source,
           CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 1.0
                       ELSE 1.25 END AS f,
           md5(CAST(doc_id AS VARCHAR) || '#0') AS h
         FROM documents),
         e AS (SELECT doc_id, source, g.epoch
               FROM d CROSS JOIN generate_series(1, 3) AS g(epoch)
               WHERE g.epoch <= ceil(f)
                 AND (g.epoch <= floor(f)
                  OR h < CASE source
                           WHEN 'src0' THEN '80000000000000000000000000000000'
                           WHEN 'src1' THEN '00000000000000000000000000000000'
                           ELSE '40000000000000000000000000000000' END))
         SELECT doc_id, source, CAST(epoch AS BIGINT) AS epoch FROM e
         ORDER BY doc_id, epoch""")),

    // VOCABULARY INDUCTION: corpus top-200 tokens by document
    // frequency (graft.ops.TextOps.topVocabulary) — explode + two
    // hash aggs + TakeOrderedAndProject; total order (df, tf, token)
    // makes the cut engine-independent
    Query("vocab_top200", (s, dir) =>
      TextOps.topVocabulary(table(s, dir, "documents"), col("text"),
          col("doc_id"), k = 200)
        .presentSorted(col("df").desc, col("tf").desc, col("token")),
    Sql(
      """WITH toks AS (SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
           FROM documents),
         t AS (SELECT token, doc_id, count(*) AS n FROM toks
               WHERE token <> '' GROUP BY 1, 2),
         v AS (SELECT token, count(*) AS df, CAST(sum(n) AS BIGINT) AS tf
               FROM t GROUP BY 1)
         SELECT token, df, tf FROM v
         ORDER BY df DESC, tf DESC, token LIMIT 200""")),

    // OOV RATE: per-source fraction of token occurrences outside the
    // stored top-20 vocabulary (graft.ops.TextOps.oovRate) — the
    // persisted-vocab index (memoized write-once) broadcast-joins the
    // exploded token stream; the tokenizer-health metric per source
    Query("vocab_oov_by_source", (s, dir) => {
      val docs = table(s, dir, "documents")
      val store = memoStore("vocab20", dir)(p =>
        TextOps.buildVocabIndex(docs, col("text"), col("doc_id"), k = 20, p))
      TextOps.oovRate(s, store, docs, col("text"), col("source"))
        .select(col("group").as("source"), col("n_tokens"), col("n_oov"),
          col("oov_rate"))
        .presentSorted("source")
    }, Sql(
      """WITH toks AS (SELECT doc_id, source,
             unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
           FROM documents),
         t AS (SELECT token, doc_id, source, count(*) AS n FROM toks
               WHERE token <> '' GROUP BY 1, 2, 3),
         v AS (SELECT token, count(*) AS df, CAST(sum(n) AS BIGINT) AS tf
               FROM t GROUP BY 1),
         top AS (SELECT token FROM v
                 ORDER BY df DESC, tf DESC, token LIMIT 20),
         occ AS (SELECT source, t2.token FROM
                   (SELECT source,
                      unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
                        AS token
                    FROM documents) t2
                 WHERE t2.token <> '')
         SELECT occ.source, count(*) AS n_tokens,
           CAST(sum(CASE WHEN top.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           round(sum(CASE WHEN top.token IS NULL THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS oov_rate
         FROM occ LEFT JOIN top ON occ.token = top.token
         GROUP BY 1 ORDER BY 1""")),

    // language-ID evaluation against the corpus' labeled lang column:
    // the confusion table (label × prediction × count) that calibrates
    // the n-gram heuristic before it gates a curation funnel
    Query("text_langid_confusion", (s, dir) =>
      table(s, dir, "documents")
        .select(col("lang"), TextOps.langIdFused(col("text")).as("pred_lang"))
        .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
        .presentSorted("lang", "pred_lang"),
    Sql(
      """WITH t AS (SELECT doc_id, lang,
           regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents),
         s AS (SELECT doc_id, lang,
           len(list_filter(toks, x -> list_contains(['the','and','of','to','is','that','with'], x))) AS s_en,
           len(list_filter(toks, x -> list_contains(['der','und','die','das','ist','mit','von'], x))) AS s_de,
           len(list_filter(toks, x -> list_contains(['le','la','et','les','des','est','avec'], x))) AS s_fr,
           len(list_filter(toks, x -> list_contains(['el','los','las','es','con','por','una'], x))) AS s_es,
           len(list_filter(toks, x -> list_contains(['的','是','在','了','和'], x))) AS s_zh
           FROM t),
         p AS (SELECT lang,
           CASE WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und'
                WHEN s_en >= greatest(s_de, s_fr, s_es, s_zh) THEN 'en'
                WHEN s_de >= greatest(s_fr, s_es, s_zh) THEN 'de'
                WHEN s_fr >= greatest(s_es, s_zh) THEN 'fr'
                WHEN s_es >= s_zh THEN 'es'
                ELSE 'zh' END AS pred_lang
           FROM s)
         SELECT lang, pred_lang, count(*) AS n FROM p
         GROUP BY 1, 2 ORDER BY 1, 2""")),

    // domain-drift audit: KL(source ‖ corpus) over the stored top-20
    // vocabulary with add-k smoothing (TextOps.klBySource)
    Query("vocab_kl_by_source", (s, dir) => {
      val docs = table(s, dir, "documents")
      val store = memoStore("vocab20", dir)(p =>
        TextOps.buildVocabIndex(docs, col("text"), col("doc_id"), k = 20, p))
      TextOps.klBySource(s, store, docs, col("text"), col("source"))
        .select(col("group").as("source"), col("n_tokens"), col("kl"))
        .presentSorted("source")
    }, Sql(
      """WITH toks AS (SELECT doc_id, source,
             unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
           FROM documents),
         t AS (SELECT token, doc_id, source, count(*) AS n FROM toks
               WHERE token <> '' GROUP BY 1, 2, 3),
         v AS (SELECT token, count(*) AS df, CAST(sum(n) AS BIGINT) AS tf
               FROM t GROUP BY 1),
         top AS (SELECT token FROM v
                 ORDER BY df DESC, tf DESC, token LIMIT 20),
         occ AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c
                 FROM toks WHERE token <> ''
                   AND token IN (SELECT token FROM top)
                 GROUP BY 1, 2),
         ng AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_g FROM occ
                GROUP BY 1),
         ct AS (SELECT top.token, CAST(coalesce(sum(occ.c), 0) AS BIGINT)
                  AS c_t
                FROM top LEFT JOIN occ ON top.token = occ.token GROUP BY 1),
         na AS (SELECT CAST(sum(c_t) AS BIGINT) AS n_all FROM ct),
         grid AS (SELECT ng.source, ng.n_g, top.token FROM ng CROSS JOIN top),
         g2 AS (SELECT grid.source, grid.n_g, grid.token,
                  CAST(coalesce(occ.c, 0) AS BIGINT) AS c, ct.c_t, na.n_all
                FROM grid
                LEFT JOIN occ ON grid.source = occ.source
                             AND grid.token = occ.token
                JOIN ct ON grid.token = ct.token
                CROSS JOIN na)
         SELECT source, max(n_g) AS n_tokens,
           round(sum(((c + 0.5) / (n_g + 0.5 * 20))
             * ln(((c + 0.5) / (n_g + 0.5 * 20))
                / ((c_t + 0.5) / (n_all + 0.5 * 20)))), 6) AS kl
         FROM g2 GROUP BY 1 ORDER BY 1""")),

    // PII SCRUB: detect + redact emails/IPv4/SSNs
    // (graft.ops.TextOps.piiCounts/redactPii, portable-regex-subset
    // patterns). The corpus is synthetic, so the fixture PII is
    // injected deterministically per doc_id in BOTH engines — the
    // oracle proves the detection/redaction mechanics cross-engine
    // the compliance slice: PII incidence per source over the same
    // planted fixture — per-source doc counts, affected-doc counts,
    // total hits per class, and the affected rate; the table a
    // release review reads before anything ships
    Query("text_pii_by_source", (s, dir) => {
      val aug = concat(
        substring(col("text"), 1, 40),
        when(col("doc_id") % 3 > 0,
          concat(lit(" u"), col("doc_id").cast(StringType), lit("@ex.org")))
          .otherwise(lit("")),
        when(col("doc_id") % 4 > 0,
          concat(lit(" from 10.0."), (col("doc_id") % 256).cast(StringType),
            lit(".9")))
          .otherwise(lit("")),
        lit(" ref 123-45-6789"))
      table(s, dir, "documents")
        .select(col("source") +: TextOps.piiCounts(aug): _*)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_email")).as("email_hits"),
          sum(col("n_ipv4")).as("ipv4_hits"),
          sum(col("n_ssn")).as("ssn_hits"),
          sum(when(col("n_email") + col("n_ipv4") + col("n_ssn") > 0, 1L)
            .otherwise(0L)).as("n_affected"))
        .select(col("source"), col("n_docs"), col("email_hits"),
          col("ipv4_hits"), col("ssn_hits"), col("n_affected"),
          (floor(col("n_affected").cast("double") /
            col("n_docs").cast("double") * lit(1e6) + lit(0.5)) / lit(1e6))
            .as("affected_rate"))
        .presentSorted("source")
    }, Sql(
      """WITH a AS (SELECT source,
           substr(text, 1, 40)
           || CASE WHEN doc_id % 3 > 0
                   THEN ' u' || CAST(doc_id AS VARCHAR) || '@ex.org'
                   ELSE '' END
           || CASE WHEN doc_id % 4 > 0
                   THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.9'
                   ELSE '' END
           || ' ref 123-45-6789' AS aug FROM documents),
         c AS (SELECT source,
           len(regexp_extract_all(aug,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS ne,
           len(regexp_extract_all(aug,
             '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS ni,
           len(regexp_extract_all(aug,
             '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS ns
           FROM a),
         g AS (SELECT source, count(*) AS n_docs,
           CAST(sum(ne) AS BIGINT) AS email_hits,
           CAST(sum(ni) AS BIGINT) AS ipv4_hits,
           CAST(sum(ns) AS BIGINT) AS ssn_hits,
           CAST(sum(CASE WHEN ne + ni + ns > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_affected
           FROM c GROUP BY 1)
         SELECT source, n_docs, email_hits, ipv4_hits, ssn_hits, n_affected,
           floor(CAST(n_affected AS DOUBLE) / CAST(n_docs AS DOUBLE)
             * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE))
             / CAST(1000000 AS DOUBLE) AS affected_rate
         FROM g ORDER BY source""")),

    Query("text_pii_redact", (s, dir) => {
      val aug = concat(
        substring(col("text"), 1, 40),
        when(col("doc_id") % 3 > 0,
          concat(lit(" u"), col("doc_id").cast(StringType), lit("@ex.org")))
          .otherwise(lit("")),
        when(col("doc_id") % 4 > 0,
          concat(lit(" from 10.0."), (col("doc_id") % 256).cast(StringType),
            lit(".9")))
          .otherwise(lit("")),
        lit(" ref 123-45-6789"))
      table(s, dir, "documents")
        .select(col("doc_id") +: TextOps.piiCounts(aug) :+
          TextOps.redactPii(aug).as("redacted"): _*)
        .orderBy("doc_id")
    }, Sql(
      """WITH a AS (SELECT doc_id,
           substr(text, 1, 40)
           || CASE WHEN doc_id % 3 > 0
                   THEN ' u' || CAST(doc_id AS VARCHAR) || '@ex.org'
                   ELSE '' END
           || CASE WHEN doc_id % 4 > 0
                   THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.9'
                   ELSE '' END
           || ' ref 123-45-6789' AS aug FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(aug,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_email,
           CAST(len(regexp_extract_all(aug,
             '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
           CAST(len(regexp_extract_all(aug,
             '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS BIGINT) AS n_ssn,
           regexp_replace(regexp_replace(regexp_replace(aug,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
             '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g') AS redacted
         FROM a ORDER BY doc_id""")),

    // CURATION LEDGER: the composed LLM-data funnel (quality floor →
    // repetition ceiling → language allowlist → exact-dedup
    // keep-first) with first-drop-wins stage attribution
    // (graft.ops.Curate). Thresholds compare rounded scores, so the
    // verdicts are exactly reproducible in the DuckDB oracle
    Query("curate_ledger", (s, dir) =>
      Curate.ledger(table(s, dir, "documents"), col("text"), col("doc_id"))
        .select("doc_id", "quality", "pred_lang", "top2", "stage", "keep")
        .presentSorted("doc_id"),
    Sql(
      """WITH t AS (SELECT doc_id, text,
           regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents),
         s AS (SELECT doc_id, text, toks,
           len(list_filter(toks, x -> list_contains(['the','and','of','to','is','that','with'], x))) AS s_en,
           len(list_filter(toks, x -> list_contains(['der','und','die','das','ist','mit','von'], x))) AS s_de,
           len(list_filter(toks, x -> list_contains(['le','la','et','les','des','est','avec'], x))) AS s_fr,
           len(list_filter(toks, x -> list_contains(['el','los','las','es','con','por','una'], x))) AS s_es,
           len(list_filter(toks, x -> list_contains(['的','是','在','了','和'], x))) AS s_zh
           FROM t),
         f AS (SELECT doc_id, text,
           CASE WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und'
                WHEN s_en >= greatest(s_de, s_fr, s_es, s_zh) THEN 'en'
                WHEN s_de >= greatest(s_fr, s_es, s_zh) THEN 'de'
                WHEN s_fr >= greatest(s_es, s_zh) THEN 'fr'
                WHEN s_es >= s_zh THEN 'es'
                ELSE 'zh' END AS pred_lang,
           round(least(length(text)/500.0, 1.0)*0.25
             + (len(regexp_replace(text, '[^A-Za-z]', '', 'g'))/greatest(length(text), 1))*0.35
             + least((len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'], x)))
                 / greatest(len(toks), 1))*5.0, 1.0)*0.2
             + CASE WHEN (length(regexp_replace(text, '\s+', '', 'g'))/greatest(len(toks), 1))
                 BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END*0.2, 6) AS quality
           FROM s),
         g2 AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2 THEN
                  list_transform(generate_series(0, len(toks)-2),
                    i -> toks[CAST(i+1 AS INT)] || ' ' || toks[CAST(i+2 AS INT)])
                  ELSE [] END) AS g FROM t),
         a2 AS (SELECT doc_id, max(cnt * len(g)) AS m FROM
                  (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY 1, 2)
                GROUP BY 1),
         nl AS (SELECT doc_id, len(array_to_string(toks, ' ')) AS norm_len FROM t),
         top2t AS (SELECT nl.doc_id,
             round(least(CAST(1.0 AS DOUBLE), CASE WHEN nl.norm_len = 0 THEN 0
               ELSE CAST(coalesce(a2.m, 0) AS DOUBLE) / nl.norm_len END), 6) AS top2
           FROM nl LEFT JOIN a2 USING (doc_id)),
         pre AS (SELECT f.doc_id, f.text, f.quality, f.pred_lang, top2t.top2,
             CASE WHEN f.text IS NULL THEN 'invalid'
                  WHEN f.quality < 0.62 THEN 'quality'
                  WHEN top2t.top2 > 0.14 THEN 'repetition'
                  WHEN f.pred_lang NOT IN ('en') THEN 'lang' END AS pre_stage
           FROM f JOIN top2t USING (doc_id)),
         surv AS (SELECT doc_id,
             CASE WHEN row_number() OVER (PARTITION BY text ORDER BY doc_id) > 1
                  THEN 'exact_dup' END AS dd
           FROM pre WHERE pre_stage IS NULL)
         SELECT p.doc_id, p.quality, p.pred_lang, p.top2,
           coalesce(p.pre_stage, surv.dd, 'kept') AS stage,
           (coalesce(p.pre_stage, surv.dd) IS NULL) AS keep
         FROM pre p LEFT JOIN surv USING (doc_id) ORDER BY 1""")),

    // the funnel with the CCNet-style perplexity ceiling as its LAST
    // stage (self-fit bigram NLL over the dedup survivors) — the LM
    // arithmetic composes into the same oracle, so the full
    // five-stage ledger stays hash-verified end-to-end
    Query("curate_ledger_lm", (s, dir) =>
      Curate.ledger(table(s, dir, "documents"), col("text"), col("doc_id"),
          Curate.Config(maxNll = Some(3.45)))
        .select("doc_id", "quality", "pred_lang", "top2", "stage", "keep")
        .presentSorted("doc_id"),
    Sql(
      """WITH t AS (SELECT doc_id, text,
           regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents),
         s AS (SELECT doc_id, text, toks,
           len(list_filter(toks, x -> list_contains(['the','and','of','to','is','that','with'], x))) AS s_en,
           len(list_filter(toks, x -> list_contains(['der','und','die','das','ist','mit','von'], x))) AS s_de,
           len(list_filter(toks, x -> list_contains(['le','la','et','les','des','est','avec'], x))) AS s_fr,
           len(list_filter(toks, x -> list_contains(['el','los','las','es','con','por','una'], x))) AS s_es,
           len(list_filter(toks, x -> list_contains(['的','是','在','了','和'], x))) AS s_zh
           FROM t),
         f AS (SELECT doc_id, text,
           CASE WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und'
                WHEN s_en >= greatest(s_de, s_fr, s_es, s_zh) THEN 'en'
                WHEN s_de >= greatest(s_fr, s_es, s_zh) THEN 'de'
                WHEN s_fr >= greatest(s_es, s_zh) THEN 'fr'
                WHEN s_es >= s_zh THEN 'es'
                ELSE 'zh' END AS pred_lang,
           round(least(length(text)/500.0, 1.0)*0.25
             + (len(regexp_replace(text, '[^A-Za-z]', '', 'g'))/greatest(length(text), 1))*0.35
             + least((len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'], x)))
                 / greatest(len(toks), 1))*5.0, 1.0)*0.2
             + CASE WHEN (length(regexp_replace(text, '\s+', '', 'g'))/greatest(len(toks), 1))
                 BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END*0.2, 6) AS quality
           FROM s),
         g2 AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2 THEN
                  list_transform(generate_series(0, len(toks)-2),
                    i -> toks[CAST(i+1 AS INT)] || ' ' || toks[CAST(i+2 AS INT)])
                  ELSE [] END) AS g FROM t),
         a2 AS (SELECT doc_id, max(cnt * len(g)) AS m FROM
                  (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY 1, 2)
                GROUP BY 1),
         nl AS (SELECT doc_id, len(array_to_string(toks, ' ')) AS norm_len FROM t),
         top2t AS (SELECT nl.doc_id,
             round(least(CAST(1.0 AS DOUBLE), CASE WHEN nl.norm_len = 0 THEN 0
               ELSE CAST(coalesce(a2.m, 0) AS DOUBLE) / nl.norm_len END), 6) AS top2
           FROM nl LEFT JOIN a2 USING (doc_id)),
         pre AS (SELECT f.doc_id, f.text, f.quality, f.pred_lang, top2t.top2,
             CASE WHEN f.text IS NULL THEN 'invalid'
                  WHEN f.quality < 0.62 THEN 'quality'
                  WHEN top2t.top2 > 0.14 THEN 'repetition'
                  WHEN f.pred_lang NOT IN ('en') THEN 'lang' END AS pre_stage
           FROM f JOIN top2t USING (doc_id)),
         surv AS (SELECT doc_id,
             CASE WHEN row_number() OVER (PARTITION BY text ORDER BY doc_id) > 1
                  THEN 'exact_dup' END AS dd
           FROM pre WHERE pre_stage IS NULL),
         lmpool AS (SELECT p.doc_id, p.text FROM pre p
             LEFT JOIN surv USING (doc_id)
             WHERE coalesce(p.pre_stage, surv.dd) IS NULL),
         ltoks AS (SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\s+') AS lt
           FROM lmpool),
         lbig0 AS (SELECT doc_id, lt, unnest(range(1, len(lt))) AS i FROM ltoks),
         lbig AS (SELECT doc_id, lt[i] AS w1, lt[i + 1] AS w2 FROM lbig0),
         ld AS (SELECT doc_id, w1, w2, count(*) AS c FROM lbig GROUP BY 1, 2, 3),
         lc2 AS (SELECT w1, w2, CAST(sum(c) AS BIGINT) AS c2 FROM ld GROUP BY 1, 2),
         lc1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM lc2 GROUP BY 1),
         lv AS (SELECT count(DISTINCT u.tok) AS v
           FROM (SELECT unnest(lt) AS tok FROM ltoks) u),
         lnll AS (SELECT ld.doc_id,
             round(sum(ld.c * -ln((lc2.c2 + 0.5) / (lc1.c1 + 0.5 * lv.v)))
               / sum(ld.c), 6) AS nll
           FROM ld JOIN lc2 USING (w1, w2) JOIN lc1 USING (w1) CROSS JOIN lv
           GROUP BY 1)
         SELECT p.doc_id, p.quality, p.pred_lang, p.top2,
           coalesce(p.pre_stage, surv.dd,
             CASE WHEN lnll.nll > 3.45 THEN 'perplexity' END, 'kept') AS stage,
           (coalesce(p.pre_stage, surv.dd,
             CASE WHEN lnll.nll > 3.45 THEN 'perplexity' END) IS NULL) AS keep
         FROM pre p LEFT JOIN surv USING (doc_id)
           LEFT JOIN lnll USING (doc_id) ORDER BY 1""")),

    // QUALITY/REPETITION: the Gopher repetition filter family (dup
    // lines, dup line chars, top 2-gram mass, dup 5-gram mass) from
    // one fused kernel pass — map-only, no shuffle
    // (graft.ops.TextOps.repetitionColumns). DuckDB-oracled with the
    // identical line/gram counting in SQL
    Query("quality_repetition", (s, dir) => {
      val r = graft.functions.GraftFunctions.repetitionStats(col("text"))
      // null text: the oracle's inner join drops such docs; match it
      // explicitly rather than emitting a four-null row
      table(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          round(r.getField("dup_line_frac"), 6).as("dup_line_frac"),
          round(r.getField("dup_line_char_frac"), 6).as("dup_line_char_frac"),
          round(r.getField("top2_char_frac"), 6).as("top2_char_frac"),
          round(r.getField("dup5_char_frac"), 6).as("dup5_char_frac"))
        .orderBy("doc_id")
    }, Sql(
      """WITH l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line
                    FROM documents),
         lc AS (SELECT doc_id, line, count(*) AS cnt, len(line) AS chars
                FROM l GROUP BY 1, 2),
         lagg AS (SELECT doc_id, sum(cnt) AS n_lines, sum(cnt - 1) AS dup_el,
                         sum(cnt * chars) AS tot_lc,
                         sum((cnt - 1) * chars) AS dup_lc
                  FROM lc GROUP BY 1),
         tl AS (SELECT doc_id, t, len(array_to_string(t, ' ')) AS norm_len
                FROM (SELECT doc_id,
                        regexp_split_to_array(lower(trim(text)), '\s+') AS t
                      FROM documents)),
         g2 AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 2 THEN
                  list_transform(generate_series(0, len(t)-2),
                    i -> t[CAST(i+1 AS INT)] || ' ' || t[CAST(i+2 AS INT)])
                  ELSE [] END) AS g FROM tl),
         a2 AS (SELECT doc_id, max(cnt * len(g)) AS top2 FROM
                  (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY 1, 2)
                GROUP BY 1),
         g5 AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 5 THEN
                  list_transform(generate_series(0, len(t)-5),
                    i -> t[CAST(i+1 AS INT)] || ' ' || t[CAST(i+2 AS INT)]
                         || ' ' || t[CAST(i+3 AS INT)] || ' ' || t[CAST(i+4 AS INT)]
                         || ' ' || t[CAST(i+5 AS INT)]) ELSE [] END) AS g FROM tl),
         a5 AS (SELECT doc_id, sum((cnt - 1) * len(g)) AS dup5 FROM
                  (SELECT doc_id, g, count(*) AS cnt FROM g5 GROUP BY 1, 2)
                WHERE cnt > 1 GROUP BY 1)
         SELECT tl.doc_id,
           round(CASE WHEN lagg.n_lines = 0 THEN 0
                 ELSE CAST(lagg.dup_el AS DOUBLE) / lagg.n_lines END, 6)
             AS dup_line_frac,
           round(CASE WHEN lagg.tot_lc = 0 THEN 0
                 ELSE CAST(lagg.dup_lc AS DOUBLE) / lagg.tot_lc END, 6)
             AS dup_line_char_frac,
           round(least(CAST(1.0 AS DOUBLE), CASE WHEN tl.norm_len = 0 THEN 0
                 ELSE CAST(coalesce(a2.top2, 0) AS DOUBLE) / tl.norm_len END), 6)
             AS top2_char_frac,
           round(least(CAST(1.0 AS DOUBLE), CASE WHEN tl.norm_len = 0 THEN 0
                 ELSE CAST(coalesce(a5.dup5, 0) AS DOUBLE) / tl.norm_len END), 6)
             AS dup5_char_frac
         FROM tl JOIN lagg USING (doc_id)
           LEFT JOIN a2 USING (doc_id) LEFT JOIN a5 USING (doc_id)
         ORDER BY 1""")),

    // document-shape heuristics: Flesch-style readability (vowel-
    // group syllables) + code-ness (symbol density, keyword rate) —
    // the routing signals that split code from prose and gate
    // readability slices before language-specific stages
    Query("text_doc_heuristics", (s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.sentenceCount(col("text")).cast("long").as("n_sent"),
          TextOps.syllableEstimate(col("text")).cast("long").as("n_syll"),
          (floor(TextOps.fleschScore(col("text")) * lit(1e4) + lit(0.5)) /
            lit(1e4)).as("flesch"),
          TextOps.codeSymbolCount(col("text")).cast("long").as("n_sym"),
          TextOps.codeKeywordCount(col("text")).cast("long").as("n_kw"))
        .orderBy("doc_id"),
    Sql(
      """WITH b AS (SELECT doc_id,
           greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS ns,
           len(regexp_extract_all(lower(text), '[aeiouy]+')) AS sy,
           greatest(len(regexp_split_to_array(trim(text), '\s+')), 1) AS w,
           len(regexp_extract_all(text, '[{}();=<>\[\]]')) AS sym,
           len(regexp_extract_all(lower(text),
             '\b(?:def|class|return|import|if|else|for|while|var|val|function)\b'))
             AS kw
           FROM documents)
         SELECT doc_id, CAST(ns AS BIGINT) AS n_sent,
           CAST(sy AS BIGINT) AS n_syll,
           floor((CAST(206.835 AS DOUBLE)
               - CAST(1.015 AS DOUBLE) * (CAST(w AS DOUBLE) / CAST(ns AS DOUBLE))
               - CAST(84.6 AS DOUBLE) * (CAST(sy AS DOUBLE) / CAST(w AS DOUBLE)))
             * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE))
             / CAST(10000 AS DOUBLE) AS flesch,
           CAST(sym AS BIGINT) AS n_sym, CAST(kw AS BIGINT) AS n_kw
         FROM b ORDER BY doc_id""")),

    // effective dataset size: raw token mass vs tokens surviving
    // keep-first exact dedup — the number training-budget planning
    // actually needs (raw counts overstate a duplicated corpus)
    Query("corpus_effective_tokens", (s, dir) => {
      val docs = table(s, dir, "documents")
      val w = Window.partitionBy(col("__h")).orderBy(col("doc_id"))
      docs.select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("__nt"),
          md5(col("text").cast("binary")).as("__h"))
        .withColumn("__rn", row_number().over(w))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__rn") === 1, 1L).otherwise(0L)).as("n_unique_docs"),
          sum(col("__nt")).as("raw_tokens"),
          sum(when(col("__rn") === 1, col("__nt")).otherwise(0L))
            .as("effective_tokens"))
        .withColumn("dup_token_mass",
          col("raw_tokens") - col("effective_tokens"))
    }, Sql(
      """WITH h AS (SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\s+')) AS nt,
           md5(text) AS hh FROM documents),
         r AS (SELECT doc_id, nt,
           row_number() OVER (PARTITION BY hh ORDER BY doc_id) AS rn
           FROM h)
         SELECT count(*) AS n_docs,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unique_docs,
           CAST(sum(nt) AS BIGINT) AS raw_tokens,
           CAST(sum(CASE WHEN rn = 1 THEN nt ELSE 0 END) AS BIGINT)
             AS effective_tokens,
           CAST(sum(nt) - sum(CASE WHEN rn = 1 THEN nt ELSE 0 END) AS BIGINT)
             AS dup_token_mass
         FROM r""")),

    // hard per-source cap (the per-domain crawl cap): keep at most 5
    // docs per source, chosen by the portable md5 order so the cut is
    // reproducible across engines, retries, and cluster sizes
    Query("sample_cap_per_source", (s, dir) => {
      val docs = table(s, dir, "documents")
      val w = Window.partitionBy(col("source"))
        .orderBy(Mix.ordHash(col("doc_id"), 42L), col("doc_id"))
      docs.select(col("source"), col("doc_id"))
        .withColumn("pick_rank", row_number().over(w).cast("long"))
        .filter(col("pick_rank") <= 5)
        .orderBy("source", "pick_rank")
    }, Sql(
      """WITH r AS (SELECT source, doc_id,
           row_number() OVER (PARTITION BY source
             ORDER BY md5(CAST(doc_id AS VARCHAR) || '#42'), doc_id)
             AS pick_rank
           FROM documents)
         SELECT source, doc_id, CAST(pick_rank AS BIGINT) AS pick_rank
         FROM r WHERE pick_rank <= 5 ORDER BY source, pick_rank""")),

    // the one-row dataset datasheet a corpus release ships with:
    // volume, vocabulary-of-languages/sources, exact-dup mass, short-
    // doc mass, mean length — one aggregation pass, all-integer
    // internals, the mean presented on the luck-free floor grid
    Query("corpus_datasheet", (s, dir) => {
      val docs = table(s, dir, "documents")
      docs.agg(
          count(lit(1)).as("n_docs"),
          sum(TextOps.tokenCount(col("text")).cast("long")).as("n_tokens"),
          sum(length(col("text")).cast("long")).as("n_chars"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          (count(lit(1)) -
            countDistinct(md5(col("text").cast("binary"))))
            .as("n_exact_dups"),
          sum(when(length(col("text")) < 100, 1L).otherwise(0L))
            .as("n_short"))
        .withColumn("mean_tokens",
          floor(col("n_tokens").cast("double") / col("n_docs").cast("double")
            * lit(1e6) + lit(0.5)) / lit(1e6))
    }, Sql(
      """SELECT count(*) AS n_docs,
         CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
           AS n_tokens,
         CAST(sum(length(text)) AS BIGINT) AS n_chars,
         count(DISTINCT lang) AS n_langs,
         count(DISTINCT source) AS n_sources,
         count(*) - count(DISTINCT md5(text)) AS n_exact_dups,
         CAST(sum(CASE WHEN length(text) < 100 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_short,
         floor(CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE)
             * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE))
           / CAST(1000000 AS DOUBLE) AS mean_tokens
         FROM documents""")),

    // leakage-safe split, oracled end-to-end over the bounded sample:
    // exact pairs -> recursive closure -> portable md5 split of the
    // cluster representative — the oracle twin of split_leakfree
    Query("split_leakfree_exact_sample", (s, dir) => {
      val docs = table(s, dir, "documents").filter(col("doc_id") < 300)
      Curate.leakSafeSplitFromPairs(docs, col("doc_id"),
        Dedup.ngramJaccardExact(docs, col("text"), col("doc_id"),
          n = 3, threshold = 0.5),
        evalFrac = 0.2, seed = 7)
        .orderBy("doc_id")
    }, Sql(
      s"""WITH RECURSIVE g AS (SELECT doc_id,
           list_distinct(list_transform(generate_series(1, greatest(length(t)-2, 1)),
             i -> substring(t, CAST(i AS INT), 3))) AS grams
           FROM (SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t
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
         lab AS (SELECT id, least(id, mn) AS cluster FROM m),
         j AS (SELECT d.doc_id, coalesce(l.cluster, d.doc_id) AS cluster
               FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d
               LEFT JOIN lab l ON d.doc_id = l.id)
         SELECT doc_id, cluster,
           CASE WHEN md5(CAST(cluster AS VARCHAR) || '#7') <
             '${graft.ops.Mix.hexThreshold(0.2)}'
           THEN 'eval' ELSE 'train' END AS split
         FROM j ORDER BY doc_id""")),

    // production shape: minhash-funnel near-dup clusters built ONCE
    // into a persisted label store (memoized write-once batch job —
    // at 100 TB clustering is a day-scale job; split derivation must
    // not repeat it per variant), the split a cheap join against it.
    // Same labels ⇒ byte-identical output to the inline funnel
    // (CurateSpec store==inline identity). (rows-only;
    // leakage-freedom and fraction measured in CurateSpec)
    Query("split_leakfree", (s, dir) => {
      val docs = table(s, dir, "documents")
      val store = memoStore("splitcc", dir)(p =>
        Curate.buildClusterStore(docs, col("text"), col("doc_id"), p))
      Curate.leakSafeSplitFromLabels(docs, col("doc_id"),
          s.read.parquet(store), evalFrac = 0.2, seed = 7)
        .orderBy("doc_id")
    }, RowsOnly("graft.ops.CurateSpec")),

    // cluster-MASS-aware split: greedy fill in hash order until the
    // document (not cluster) eval target is met — oracled end-to-end
    // against a single global window (the distributed two-phase
    // prefix sum must equal it exactly)
    Query("split_balanced_exact_sample", (s, dir) => {
      val docs = table(s, dir, "documents").filter(col("doc_id") < 300)
      Curate.leakSafeSplitBalancedFromPairs(docs, col("doc_id"),
        Dedup.ngramJaccardExact(docs, col("text"), col("doc_id"),
          n = 3, threshold = 0.5),
        evalFrac = 0.2, seed = 7)
        .orderBy("doc_id")
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
         lab AS (SELECT id, least(id, mn) AS cluster FROM m),
         j AS (SELECT d.doc_id, coalesce(l.cluster, d.doc_id) AS cluster
               FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d
               LEFT JOIN lab l ON d.doc_id = l.id),
         mass AS (SELECT cluster, count(*) AS m,
                  md5(CAST(cluster AS VARCHAR) || '#7') AS hh
                  FROM j GROUP BY 1),
         c AS (SELECT cluster,
                 coalesce(sum(m) OVER (ORDER BY hh
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev,
                 sum(m) OVER () AS tot FROM mass),
         sel AS (SELECT cluster,
                 CASE WHEN CAST(prev AS DOUBLE) < 0.2 * CAST(tot AS DOUBLE)
                 THEN 'eval' ELSE 'train' END AS split FROM c)
         SELECT j.doc_id, j.cluster, sel.split
         FROM j JOIN sel USING (cluster) ORDER BY doc_id""")),

    // full-corpus balanced split over the SAME persisted cluster
    // store as split_leakfree — the two splits share one funnel+CC
    // batch artifact instead of re-running it (rows-only;
    // realized-fraction tightness vs the plain split measured in
    // CurateSpec)
    Query("split_balanced", (s, dir) => {
      val docs = table(s, dir, "documents")
      val store = memoStore("splitcc", dir)(p =>
        Curate.buildClusterStore(docs, col("text"), col("doc_id"), p))
      Curate.leakSafeSplitBalancedFromLabels(docs, col("doc_id"),
          s.read.parquet(store), evalFrac = 0.2, seed = 7)
        .orderBy("doc_id")
    }, RowsOnly("graft.ops.CurateSpec")),

    // INCREMENTAL pair counts: base corpus (doc_id>=250) built once
    // into the batch-partitioned store, the crawl increment (<250)
    // appended as its own batch — window pairs never cross documents,
    // so counts are exactly additive and the indexed top-50 equals
    // the inline count over the union (fully oracled; replays
    // overwrite their batch, never double-add)
    Query("colloc_counts_indexed", (s, dir) => {
      val docs = table(s, dir, "documents")
      val store = memoStore("collocCounts", dir) { p =>
        Colloc.buildCountsStore(docs.filter(col("doc_id") >= 250),
          col("text"), window = 3, p)
        Colloc.appendCountsBatch(docs.filter(col("doc_id") < 250),
          col("text"), window = 3, p, batchId = 1L)
      }
      Colloc.readCounts(s, store)
        .orderBy(col("pair_n").desc, col("tok_a"), col("tok_b"))
        .limit(50)
    }, Sql(
      """WITH t0 AS (SELECT list_filter(
             regexp_split_to_array(lower(trim(text)), '\s+'),
             x -> length(x) > 0) AS t FROM documents),
         p0 AS (SELECT t, unnest(generate_series(1, len(t)-1)) AS i
                FROM t0 WHERE len(t) >= 2),
         p1 AS (SELECT t, i,
                unnest(generate_series(i+1, least(i+3, len(t)))) AS j FROM p0),
         pc AS (SELECT least(t[i], t[j]) AS tok_a,
                greatest(t[i], t[j]) AS tok_b, count(*) AS pair_n
                FROM p1 GROUP BY 1, 2)
         SELECT tok_a, tok_b, pair_n FROM pc
         ORDER BY pair_n DESC, tok_a, tok_b LIMIT 50""")),

    // top collocations by LIFT (= e^PMI, but a pure ratio of integer
    // counts → bit-exact cross-engine where PMI's log would pull in
    // libm): window-3 pairs generated inside each doc's token array,
    // two count shuffles, broadcast totals, deterministic tiebreak
    Query("colloc_top_lift", (s, dir) =>
      Colloc.topCollocations(table(s, dir, "documents"), col("text"),
          window = 3, minCount = 5, k = 100)
        .select(col("tok_a"), col("tok_b"), col("pair_n"),
          (floor(col("lift") * lit(1e6) + lit(0.5)) / lit(1e6)).as("lift")),
    Sql(
      // lift association tree mirrors Colloc.topCollocations exactly:
      // ((c_ab/c_a) * (ntok/c_b)) * (ntok/npairs), left-assoc doubles
      // over exact integer counts — identical bits, luck-free floor
      """WITH t0 AS (SELECT list_filter(
             regexp_split_to_array(lower(trim(text)), '\s+'),
             x -> length(x) > 0) AS t FROM documents),
         p0 AS (SELECT t, unnest(generate_series(1, len(t)-1)) AS i
                FROM t0 WHERE len(t) >= 2),
         p1 AS (SELECT t, i,
                unnest(generate_series(i+1, least(i+3, len(t)))) AS j FROM p0),
         pc AS (SELECT least(t[i], t[j]) AS tok_a,
                greatest(t[i], t[j]) AS tok_b, count(*) AS pair_n
                FROM p1 GROUP BY 1, 2),
         uc AS (SELECT tok, count(*) AS tok_n FROM
                (SELECT unnest(t) AS tok FROM t0) GROUP BY 1),
         tot AS (SELECT CAST(sum(tok_n) AS DOUBLE) AS ntok FROM uc),
         totp AS (SELECT CAST(sum(pair_n) AS DOUBLE) AS npair FROM pc),
         l AS (SELECT pc.tok_a, pc.tok_b, pc.pair_n,
               CAST(pc.pair_n AS DOUBLE) / CAST(ca.tok_n AS DOUBLE)
                 * (tot.ntok / CAST(cb.tok_n AS DOUBLE))
                 * (tot.ntok / totp.npair) AS lift
               FROM pc JOIN uc ca ON pc.tok_a = ca.tok
               JOIN uc cb ON pc.tok_b = cb.tok
               CROSS JOIN tot CROSS JOIN totp
               WHERE pc.pair_n >= 5)
         SELECT tok_a, tok_b, pair_n,
           floor(lift * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE))
             / CAST(1000000 AS DOUBLE) AS lift
         FROM l ORDER BY l.lift DESC, tok_a, tok_b LIMIT 100""")),

    // multi-pattern blocklist screen: one Aho-Corasick O(len) pass
    // per doc for the whole pattern set (per-pattern contains() is
    // O(len×patterns) passes — the naive blocklist scale trap).
    // Oracled: AC totals equal per-pattern regex occurrence counts
    // for non-self-overlapping patterns
    Query("text_blocklist_screen", (s, dir) =>
      table(s, dir, "documents")
        .select((col("doc_id") +: TextOps.blocklistColumns(col("text"),
          Seq("slow", "hash", "the part", "query"))): _*)
        .orderBy("doc_id"),
    Sql {
      // per-pattern non-overlapping regex counts equal AC's all-end-
      // positions totals because none of the four patterns self-overlap
      // and the corpus is space-tokenized (no periodic runs)
      val pats = Seq("slow", "hash", "the part", "query")
      val cnt = pats.map(p =>
        s"len(regexp_extract_all(lower(text), '$p'))")
      val hits = cnt.mkString(" + ")
      val matched = cnt.map(c => s"CASE WHEN $c > 0 THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""SELECT doc_id, CAST($hits AS BIGINT) AS block_hits,
         CAST($matched AS BIGINT) AS block_patterns,
         ($hits) > 0 AS blocked
         FROM documents ORDER BY doc_id"""
    }),

    // compression-ratio quality signal (zlib kernel in the scan):
    // the redundancy-structure filter counted n-gram classes miss.
    // Deflate bytes are the JVM zlib's → rows-only (like minhash
    // signatures); structural semantics spec'd in TextOpsSpec
    Query("text_compression_signal", (s, dir) =>
      table(s, dir, "documents")
        .select((col("doc_id") +:
          TextOps.compressionColumns(col("text"))): _*)
        .orderBy("doc_id"),
    RowsOnly("graft.ops.TextStatsSpec")),

    // text stats: token counts, ratios, fingerprint
    Query("text_stats", (s, dir) =>
      // one fused kernel pass for the six counters (codegen CSE
      // evaluates the struct once per row), not six regex passes
      table(s, dir, "documents")
        .select((col("doc_id") +: TextOps.statsColumns(col("text"))): _*)
        .orderBy("doc_id"),
    Sql(
      """SELECT doc_id,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
         len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS n_bpeish,
         round(len(regexp_replace(text, '[^A-Za-z]', '', 'g')) / greatest(length(text), 1), 6) AS alpha_ratio,
         round(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
             t -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'], t)))
           / greatest(len(regexp_split_to_array(lower(trim(text)), '\s+')), 1), 6) AS stop_ratio,
         round(length(regexp_replace(text, '\s+', '', 'g'))
           / greatest(len(regexp_split_to_array(trim(text), '\s+')), 1), 6) AS mean_word_len,
         md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
         FROM documents ORDER BY doc_id""")),

    // token-aligned sliding-window chunking (context-window shaping);
    // chunk content rides as md5 so the result stays narrow
    Query("text_chunk_tokens", (s, dir) =>
      TextOps.chunkTokens(table(s, dir, "documents"), col("text"),
          col("doc_id"), chunkTokens = 64, overlapTokens = 16)
        .orderBy("doc_id", "chunk_id"),
    Sql(
      """WITH d AS (SELECT doc_id,
           regexp_split_to_array(trim(text), '\s+') AS tok FROM documents),
         n AS (SELECT doc_id, tok,
           CASE WHEN len(tok) <= 64 THEN 1
                ELSE 1 + CAST(ceil((len(tok) - 64) / 48.0) AS BIGINT)
           END AS n_chunks FROM d),
         c AS (SELECT doc_id, tok, unnest(range(n_chunks)) AS chunk_id FROM n)
         SELECT doc_id, chunk_id, chunk_id * 48 + 1 AS token_start,
           len(list_slice(tok, CAST(chunk_id * 48 + 1 AS BIGINT),
             CAST(chunk_id * 48 + 64 AS BIGINT))) AS n_tokens,
           md5(array_to_string(list_slice(tok, CAST(chunk_id * 48 + 1 AS BIGINT),
             CAST(chunk_id * 48 + 64 AS BIGINT)), ' ')) AS chunk_md5
         FROM c ORDER BY doc_id, chunk_id""")),

    // rolling-hash document fingerprint (codepoint polynomial mod 1e9+7
    // — engine-independent, custom codegen expression)
    Query("text_rolling_fp", (s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"),
        graft.functions.GraftFunctions.rollingHash(col("text")).as("fp"))
        .orderBy("doc_id"),
    Sql(
      """WITH n AS (SELECT doc_id,
           lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t FROM documents)
         SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(generate_series(1, length(t)),
                 i -> CAST(unicode(substring(t, CAST(i AS INT), 1)) AS BIGINT))),
             (a, b) -> (a * 31 + b) % 1000000007) AS fp
         FROM n ORDER BY doc_id""")),

    // language-ID heuristic + composite quality score (fused kernels:
    // one marker-count tokenization + one counts pass per row)
    Query("text_langid_quality", (s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"),
        TextOps.langIdFused(col("text")).as("pred_lang"),
        TextOps.qualityScoreFused(col("text")).as("quality"))
        .orderBy("doc_id"),
    Sql(
      """WITH t AS (SELECT doc_id, text,
           regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents),
         s AS (SELECT doc_id, text, toks,
           len(list_filter(toks, x -> list_contains(['the','and','of','to','is','that','with'], x))) AS s_en,
           len(list_filter(toks, x -> list_contains(['der','und','die','das','ist','mit','von'], x))) AS s_de,
           len(list_filter(toks, x -> list_contains(['le','la','et','les','des','est','avec'], x))) AS s_fr,
           len(list_filter(toks, x -> list_contains(['el','los','las','es','con','por','una'], x))) AS s_es,
           len(list_filter(toks, x -> list_contains(['的','是','在','了','和'], x))) AS s_zh
           FROM t)
         SELECT doc_id,
           CASE WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und'
                WHEN s_en >= greatest(s_de, s_fr, s_es, s_zh) THEN 'en'
                WHEN s_de >= greatest(s_fr, s_es, s_zh) THEN 'de'
                WHEN s_fr >= greatest(s_es, s_zh) THEN 'fr'
                WHEN s_es >= s_zh THEN 'es'
                ELSE 'zh' END AS pred_lang,
           round(least(length(text)/500.0, 1.0)*0.25
             + (len(regexp_replace(text, '[^A-Za-z]', '', 'g'))/greatest(length(text), 1))*0.35
             + least((len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'], x)))
                 / greatest(len(toks), 1))*5.0, 1.0)*0.2
             + CASE WHEN (length(regexp_replace(text, '\s+', '', 'g'))/greatest(len(toks), 1))
                 BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END*0.2, 6) AS quality
         FROM s ORDER BY doc_id""")),

    // adaptive per-source quality gate: each source cut at its OWN
    // quality percentile (fixed global thresholds over-prune
    // low-register sources); per-source audit of cutoff + survival
    Query("quality_adaptive_by_source", (s, dir) => {
      val docs = table(s, dir, "documents")
      val scored = docs.select(col("source"),
        TextOps.qualityScore(col("text")).as("quality"))
      val cuts = Curate.adaptiveQualityCutoffs(docs, col("text"),
        col("source"), pct = 0.1)
      scored.join(broadcast(cuts), Seq("source"))
        .groupBy(col("source"), col("cutoff"))
        .agg(sum(when(col("quality") >= col("cutoff"), 1L).otherwise(0L))
          .as("kept"),
          count(lit(1)).as("total"))
        .presentSorted("source")
    }, Sql(
      """WITH t0 AS (SELECT doc_id, source, text,
           regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents),
         t AS (SELECT doc_id, source,
           round(least(length(text)/500.0, 1.0)*0.25
             + (len(regexp_replace(text, '[^A-Za-z]', '', 'g'))/greatest(length(text), 1))*0.35
             + least((len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'], x)))
                 / greatest(len(toks), 1))*5.0, 1.0)*0.2
             + CASE WHEN (length(regexp_replace(text, '\s+', '', 'g'))/greatest(len(toks), 1))
                 BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END*0.2, 6) AS quality
           FROM t0),
         c AS (SELECT source, round(quantile_cont(quality, 0.1), 6) AS cutoff
               FROM t GROUP BY 1)
         SELECT t.source, c.cutoff,
           CAST(sum(CASE WHEN t.quality >= c.cutoff THEN 1 ELSE 0 END) AS BIGINT) AS kept,
           count(*) AS total
         FROM t JOIN c USING (source) GROUP BY 1, 2 ORDER BY 1""")),

    // the surviving documents themselves (broadcast cutoff join, no
    // corpus shuffle)
    Query("quality_adaptive_kept", (s, dir) =>
      Curate.adaptiveQualityKept(table(s, dir, "documents"), col("text"),
        col("doc_id"), col("source"), pct = 0.1)
        .orderBy("doc_id"),
    Sql(
      """WITH t0 AS (SELECT doc_id, source, text,
           regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents),
         t AS (SELECT doc_id, source,
           round(least(length(text)/500.0, 1.0)*0.25
             + (len(regexp_replace(text, '[^A-Za-z]', '', 'g'))/greatest(length(text), 1))*0.35
             + least((len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'], x)))
                 / greatest(len(toks), 1))*5.0, 1.0)*0.2
             + CASE WHEN (length(regexp_replace(text, '\s+', '', 'g'))/greatest(len(toks), 1))
                 BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END*0.2, 6) AS quality
           FROM t0),
         c AS (SELECT source, round(quantile_cont(quality, 0.1), 6) AS cutoff
               FROM t GROUP BY 1)
         SELECT t.doc_id, t.source, t.quality, c.cutoff
         FROM t JOIN c USING (source)
         WHERE t.quality >= c.cutoff ORDER BY t.doc_id""")),

    // exact-substring dedup primitive (Lee et al. 2022): maximal
    // cross-document duplicated token spans (>= 10 tokens), keep-first
    // ownership — the repeats document-level near-dup funnels miss
    Query("span_dup_spans", (s, dir) =>
      Spans.duplicatedSpans(table(s, dir, "documents"), col("text"),
        col("doc_id"), n = 10)
        .orderBy("doc_id", "span_start"),
    Sql(
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
         g0 AS (SELECT doc_id, t,
           CASE WHEN len(t) >= 10 THEN generate_series(1, len(t)-9) ELSE [] END AS idxs FROM d),
         g AS (SELECT doc_id, CAST(unnest(idxs) AS BIGINT) AS pos, t FROM g0),
         g2 AS (SELECT doc_id, pos, lower(array_to_string(t[pos:pos+9], ' ')) AS gram FROM g),
         s AS (SELECT gram, count(DISTINCT doc_id) AS nd, min(doc_id) AS owner
               FROM g2 GROUP BY 1 HAVING count(DISTINCT doc_id) > 1),
         cov0 AS (SELECT g2.doc_id, g2.pos FROM g2 JOIN s USING (gram)
                  WHERE g2.doc_id <> s.owner),
         cov AS (SELECT DISTINCT doc_id, p FROM
                 (SELECT doc_id, unnest(generate_series(pos, pos+9)) AS p FROM cov0)),
         isl AS (SELECT doc_id, p,
                 p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp FROM cov)
         SELECT doc_id, min(p) AS span_start, count(*) AS span_len
         FROM isl GROUP BY doc_id, grp ORDER BY doc_id, span_start""")),

    // the scrubbed corpus: duplicated spans deleted everywhere but
    // their first-owner document
    Query("span_scrub_clean", (s, dir) =>
      Spans.removeDuplicatedSpans(table(s, dir, "documents"), col("text"),
        col("doc_id"), n = 10)
        .orderBy("doc_id"),
    Sql(
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
         g0 AS (SELECT doc_id, t,
           CASE WHEN len(t) >= 10 THEN generate_series(1, len(t)-9) ELSE [] END AS idxs FROM d),
         g AS (SELECT doc_id, CAST(unnest(idxs) AS BIGINT) AS pos, t FROM g0),
         g2 AS (SELECT doc_id, pos, lower(array_to_string(t[pos:pos+9], ' ')) AS gram FROM g),
         s AS (SELECT gram, count(DISTINCT doc_id) AS nd, min(doc_id) AS owner
               FROM g2 GROUP BY 1 HAVING count(DISTINCT doc_id) > 1),
         cov0 AS (SELECT g2.doc_id, g2.pos FROM g2 JOIN s USING (gram)
                  WHERE g2.doc_id <> s.owner),
         cov AS (SELECT DISTINCT doc_id, p FROM
                 (SELECT doc_id, unnest(generate_series(pos, pos+9)) AS p FROM cov0)),
         tok AS (SELECT doc_id, unnest(t) AS tok,
                 CAST(unnest(generate_series(1, len(t))) AS BIGINT) AS p FROM d),
         keptt AS (SELECT tok.doc_id, tok.p, tok.tok FROM tok
                   LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p
                   WHERE cov.p IS NULL),
         agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
                 count(*) AS n_kept FROM keptt GROUP BY 1)
         SELECT d.doc_id, coalesce(agg.clean_text, '') AS clean_text,
           CAST(len(d.t) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed
         FROM d LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""")),

    // BPE trainer, iteration-0 statistics: weighted adjacent char-pair
    // frequencies over the distinct-word table (the corpus-scale pass
    // reduces to vocabulary-scale state) — oracled top-50
    Query("bpe_pair_counts", (s, dir) =>
      Bpe.pairCounts(Bpe.seedSymbols(
          Bpe.wordCounts(table(s, dir, "documents"), col("text"))))
        .orderBy(col("freq").desc, col("a"), col("b")).limit(50),
    Sql(
      """WITH w AS (SELECT word, count(*) AS wcount FROM
           (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
            FROM documents) t
           WHERE length(word) > 0 GROUP BY 1),
         c AS (SELECT wcount, regexp_split_to_array(word, '') AS ch FROM w),
         p0 AS (SELECT wcount, ch, unnest(generate_series(1, len(ch)-1)) AS i
                FROM c WHERE len(ch) >= 2),
         p AS (SELECT ch[i] AS a, ch[i+1] AS b, wcount FROM p0)
         SELECT a, b, CAST(sum(wcount) AS BIGINT) AS freq FROM p GROUP BY 1, 2
         ORDER BY freq DESC, a, b LIMIT 50""")),

    // the learned merge table after 12 iterations (rows-only; BpeSpec
    // matches it against an independent single-node reference BPE)
    Query("bpe_merges", (s, dir) => {
      val m = Bpe.train(table(s, dir, "documents"), col("text"),
        numMerges = 12)
      s.createDataFrame(m)
        .select(col("rank").cast("long").as("rank"), col("a"), col("b"),
          col("freq"))
        .presentSorted("rank")
    }, RowsOnly("graft.ops.BpeSpec")),

    // first 5 merges, driver-oracled: the batched trainer at
    // maxBatch=1 (the strict-BPE contract, BpeSpec) vs a DuckDB
    // oracle that re-derives each round from scratch — long-format
    // symbol table, argmax pair per round (freq desc, a, b), greedy
    // non-overlapping application via run-parity position selection.
    // This pins the trainer's acceptance rule to an independent
    // engine; larger maxBatch is the documented fastBPE-style
    // order-approximation (spec-pinned, README)
    Query("bpe_merges_exact_sample", (s, dir) => {
      val m = Bpe.trainBatched(table(s, dir, "documents"), col("text"),
        numMerges = 5, maxBatch = 1)
      s.createDataFrame(m)
        .select(col("rank").cast("long").as("rank"), col("a"), col("b"),
          col("freq"))
        .presentSorted("rank")
    }, Sql {
      val finalSel = (1 to 5)
        .map(t => s"SELECT CAST($t AS BIGINT) AS rank, a, b, freq FROM m$t")
        .mkString("\n           UNION ALL ")
      s"""WITH ${bpeTrainSql(5)}
         SELECT * FROM ($finalSel) ORDER BY rank"""
    }),

    // the tokenizer under the strict 5-merge table on a bounded doc
    // sample, fully DuckDB-oracled: per-word token counts fall out of
    // the training unroll's FINAL symbol table (strict training
    // application ≡ rank-order tokenization for the same merges), so
    // the oracle needs no second application pass — it counts sl5
    // rows per word and sums them over each sampled doc's words
    Query("bpe_token_count_exact_sample", (s, dir) => {
      val docs = table(s, dir, "documents")
      val merges = Bpe.trainBatched(docs, col("text"), numMerges = 5,
        maxBatch = 1).map(m => (m.a, m.b))
      docs.filter(col("doc_id") < 300).select(col("doc_id"),
        Bpe.tokenCount(col("text"), merges).cast("long").as("n_bpe"))
        .orderBy("doc_id")
    }, Sql(
      // the tokenizer those merges induce, on the doc_id<300 sample:
      // strict training application IS rank-order tokenization for the
      // same merge table, so a word's token count after 5 rounds is its
      // sl5 row count — summed over each sampled doc's words (LEFT
      // JOINs keep zero-word docs at n_bpe=0, matching the kernel)
      s"""WITH ${bpeTrainSql(5)},
         wt AS MATERIALIZED (SELECT wi.word, cnt.ntok FROM wi JOIN
             (SELECT wid, count(*) AS ntok FROM sl5 GROUP BY 1) cnt
             USING (wid)),
         dw AS (SELECT doc_id, word FROM
             (SELECT doc_id,
                unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
              FROM documents WHERE doc_id < 300)
           WHERE length(word) > 0)
         SELECT d.doc_id, CAST(coalesce(sum(wt.ntok), 0) AS BIGINT) AS n_bpe
         FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d
         LEFT JOIN dw ON d.doc_id = dw.doc_id
         LEFT JOIN wt ON dw.word = wt.word
         GROUP BY 1 ORDER BY 1""")),

    // the tokenizer those merges induce, applied back over the corpus
    // (rows-only; per-doc counts matched against the reference in
    // BpeSpec)
    Query("bpe_token_count", (s, dir) => {
      val docs = table(s, dir, "documents")
      val merges = Bpe.train(docs, col("text"), numMerges = 12)
        .map(m => (m.a, m.b))
      docs.select(col("doc_id"),
        Bpe.tokenCount(col("text"), merges).cast("long").as("n_bpe"))
        .orderBy("doc_id")
    }, RowsOnly("graft.ops.BpeSpec")),

    // the tokenizer against the PERSISTED merge store (fit once on
    // the corpus, stored as parquet + commit marker; the increment
    // read path loads the ~KB merge table, no training jobs) — same
    // unrolled-CTE truth as bpe_token_count_exact_sample, so the
    // store round-trip is hash-oracled end to end
    Query("bpe_token_count_indexed", (s, dir) => {
      val docs = table(s, dir, "documents")
      val store = memoStore("bpestore", dir)(p =>
        Bpe.fitToStore(docs, col("text"), numMerges = 5, p, maxBatch = 1))
      docs.filter(col("doc_id") < 300).select(col("doc_id"),
        Bpe.tokenCountAgainstStore(s, store, col("text"))
          .cast("long").as("n_bpe"))
        .orderBy("doc_id")
    }, Sql(
      // store-read path, same truth: store-fit == inline-fit is also
      // BpeSpec-pinned, so one oracle serves both
      s"""WITH ${bpeTrainSql(5)},
         wt AS MATERIALIZED (SELECT wi.word, cnt.ntok FROM wi JOIN
             (SELECT wid, count(*) AS ntok FROM sl5 GROUP BY 1) cnt
             USING (wid)),
         dw AS (SELECT doc_id, word FROM
             (SELECT doc_id,
                unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
              FROM documents WHERE doc_id < 300)
           WHERE length(word) > 0)
         SELECT d.doc_id, CAST(coalesce(sum(wt.ntok), 0) AS BIGINT) AS n_bpe
         FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d
         LEFT JOIN dw ON d.doc_id = dw.doc_id
         LEFT JOIN wt ON dw.word = wt.word
         GROUP BY 1 ORDER BY 1""")),

    // multimodal REAL decode (r6 verdict item 5): payloads are real
    // BMP/PPM/PGM/WebP containers built in closed form over doc_id
    // (Multimodal.syntheticContainer — since r16 the id%8 cycle adds
    // lossy VP8, lossless VP8L, and animated WebP, JUNK-padded to
    // closed-form byte lengths), parsed back by the pure-JVM byte
    // decoders; every 8th doc is raw text exercising the stub
    // fallback with decoded=0. The oracle recomputes format, byte
    // length (incl. BMP 4-byte row padding and the exact netpbm
    // header string), dimensions, channels, and ANMF frame counts
    // without ever seeing the bytes — a round-trip proof the decoder
    // reads actual header fields
    // Unicode NFC canonicalization (custom codegen kernel — Spark has
    // no built-in): decomposed sequences planted on every doc compose
    // to their precomposed forms; byte-level fingerprints downstream
    // depend on this pass, since unnormalized twins never dedup. The
    // oracle runs DuckDB's independent utf8proc nfc_normalize and
    // compares md5 of the normalized TEXT — two implementations of
    // the Unicode spec agreeing byte-for-byte
    Query("text_nfc_normalize", (s, dir) => {
      val fixture = concat(col("text"),
        // decomposed escapes (e+U+0301, a+U+030A, a+U+0308): NFC must do
      // real composition work, and escapes keep the source encoding-proof
        lit(" cafe\u0301 bla\u030Aba\u0308r"))
      table(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.GraftFunctions.unicodeNormalize(fixture, "NFC")
            .as("__n"))
        .select(col("doc_id"),
          length(col("__n")).cast("long").as("n_chars_norm"),
          md5(col("__n").cast("binary")).as("norm_md5"))
        .orderBy("doc_id")
    }, Sql(
      """WITH f AS (SELECT doc_id, text || ' cafe' || chr(769)
             || ' bla' || chr(778) || 'ba' || chr(776) || 'r' AS x
           FROM documents),
         n AS (SELECT doc_id, nfc_normalize(x) AS nx FROM f)
         SELECT doc_id, CAST(length(nx) AS BIGINT) AS n_chars_norm,
           md5(nx) AS norm_md5
         FROM n ORDER BY doc_id""")),

    // HTML → text extraction over a deterministic page fixture both
    // engines construct identically: script/style/comment content
    // drops, tags become spaces, entities decode (&amp; last),
    // whitespace collapses — all with RE2-safe patterns, fully
    // oracled (the extracted text itself hashes, not a summary)
    Query("text_html_extract", (s, dir) => {
      val html = concat(
        lit("<html><head><script>var x = 1 < 2;</script>" +
          "<style>p { color: red }</style></head><body><h1>Doc "),
        col("doc_id").cast("string"),
        lit("</h1>\n<p>"), col("text"),
        lit(" &amp; more &lt;tags&gt;</p><!-- crawler note -->" +
          "</body></html>"))
      table(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.htmlToText(html).as("extracted"))
        .withColumn("n_chars_out", length(col("extracted")).cast("long"))
        .orderBy("doc_id")
    }, Sql(
      """WITH h AS (SELECT doc_id,
           '<html><head><script>var x = 1 < 2;</script>'
           || '<style>p { color: red }</style></head><body><h1>Doc '
           || doc_id || '</h1>' || chr(10) || '<p>' || text
           || ' &amp; more &lt;tags&gt;</p><!-- crawler note -->'
           || '</body></html>' AS html FROM documents),
         s1 AS (SELECT doc_id, regexp_replace(html,
             '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS t FROM h),
         s2 AS (SELECT doc_id, regexp_replace(t,
             '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM s1),
         s3 AS (SELECT doc_id, regexp_replace(t,
             '(?s)<!--.*?-->', ' ', 'g') AS t FROM s2),
         s4 AS (SELECT doc_id, regexp_replace(t,
             '<[^>]*>', ' ', 'g') AS t FROM s3),
         s5 AS (SELECT doc_id,
             replace(replace(replace(replace(replace(replace(t,
               '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
               '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS t
           FROM s4),
         s6 AS (SELECT doc_id,
             trim(regexp_replace(t, '\s+', ' ', 'g')) AS extracted
           FROM s5)
         SELECT doc_id, extracted,
           CAST(length(extracted) AS BIGINT) AS n_chars_out
         FROM s6 ORDER BY doc_id""")),

    // MAIN-CONTENT extraction over a full synthetic page (nav,
    // header, link-farm sidebar, footer, related-links list) minted
    // identically by both engines: structural chrome drops wholesale,
    // remaining blocks classify by length + link density, and the
    // recovered main text itself hashes — so a wrong block decision
    // anywhere shows up as a text diff, not a fuzzy score drift
    Query("text_main_content", (s, dir) => {
      val f = htmlPageFixture(table(s, dir, "documents"))
      val mc = TextOps.extractMainContent(col("html"))
      f.select(col("doc_id"), mc.as("mc"))
        .select(col("doc_id"),
          col("mc.main_text").as("main_text"),
          col("mc.n_blocks").as("n_blocks"),
          col("mc.n_content_blocks").as("n_content_blocks"),
          col("mc.content_chars").as("content_chars"),
          col("mc.boiler_chars").as("boiler_chars"))
        .orderBy("doc_id")
    }, Sql(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         parts AS (SELECT doc_id,
           array_to_string(list_slice(ws, 1, greatest(len(ws)//2, 1)), ' ') AS p1,
           array_to_string(list_slice(ws, greatest(len(ws)//2, 1) + 1, len(ws)), ' ') AS p2
           FROM w),
         fix AS (SELECT doc_id,
           '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
           '</title><style>body{margin:0}</style><script>var x=1;</script></head><body>' ||
           '<nav><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact</a></nav>' ||
           '<header><h1>Site ' || CAST(doc_id % 7 AS VARCHAR) || '</h1></header><main><p>' || p1 ||
           '</p><p>' || p2 || ' See also <a href="/ref">the source</a>.</p>' ||
           (CASE WHEN doc_id % 4 = 0 THEN '<ul><li><a href="/r1">Related one: how the spark shuffle works in practice</a></li><li><a href="/r2">Related two</a></li></ul>' ELSE '' END) ||
           '</main><aside><a href="/ad">Sponsored links</a></aside><footer>&copy; 2026 Site <a href="/terms">Terms</a></footer></body></html>' AS html
           FROM parts),
         cleaned AS (SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
             '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
             '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
             '(?is)<nav\b[^>]*>.*?</nav>', ' ', 'g'),
             '(?is)<header\b[^>]*>.*?</header>', ' ', 'g'),
             '(?is)<footer\b[^>]*>.*?</footer>', ' ', 'g'),
             '(?is)<aside\b[^>]*>.*?</aside>', ' ', 'g'),
             '(?s)<!--.*?-->', ' ', 'g') AS c
           FROM fix),
         blocks AS (SELECT doc_id,
           list_filter(list_transform(
             string_split_regex(c, '(?i)</?(?:p|div|h[1-6]|li|ul|ol|dl|dt|dd|table|thead|tbody|tr|td|th|section|article|main|blockquote|pre|figure|figcaption|form|fieldset|br|hr)\b[^>]*>'),
             b -> {'t': trim(regexp_replace(
                 replace(replace(replace(replace(replace(replace(
                   regexp_replace(b, '<[^>]*>', ' ', 'g'),
                   '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
                 '\s+', ' ', 'g')),
               'll': coalesce(list_aggregate(list_transform(
                 regexp_extract_all(b, '(?is)<a\b[^>]*>(.*?)</a>', 1),
                 a -> length(trim(regexp_replace(
                   replace(replace(replace(replace(replace(replace(
                     regexp_replace(a, '<[^>]*>', ' ', 'g'),
                     '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
                   '\s+', ' ', 'g')))), 'sum'), 0)}),
             s -> s.t <> '') AS bl
           FROM cleaned),
         cls AS (SELECT doc_id, bl,
           list_filter(bl, s -> length(s.t) >= 25 AND CAST(s.ll AS DOUBLE) <= 0.33 * length(s.t)) AS ct
           FROM blocks)
         SELECT doc_id,
           coalesce(array_to_string(list_transform(ct, s -> s.t), chr(10)), '') AS main_text,
           CAST(len(bl) AS BIGINT) AS n_blocks,
           CAST(len(ct) AS BIGINT) AS n_content_blocks,
           CAST(coalesce(list_aggregate(list_transform(ct, s -> length(s.t)), 'sum'), 0) AS BIGINT) AS content_chars,
           CAST(coalesce(list_aggregate(list_transform(bl, s -> length(s.t)), 'sum'), 0) - coalesce(list_aggregate(list_transform(ct, s -> length(s.t)), 'sum'), 0) AS BIGINT) AS boiler_chars
         FROM cls ORDER BY doc_id""")),

    // Gopher document-quality rules (Rae et al. 2021 A1.1) over the
    // minted multi-line pages: word-count bounds, mean word length,
    // symbol ratio, bullet/ellipsis line fractions, alpha-word
    // fraction, required-stopword count, and the composite keep
    // verdict — the oracle re-mints the page and restates every rule
    // in SQL, so each fixture pathology (bullets every 7th line,
    // ellipsis slot, '#'-heavy and numeric lines, stopword lines)
    // must flip the same rule in both engines
    Query("text_gopher_rules", (s, dir) => {
      // exchange between minting and the rule projection: the rules
      // reference the page ~20×, and CollapseProject would otherwise
      // inline the higher-order minting tree into every reference
      val f = linePageFixture(table(s, dir, "documents"))
        .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
      f.select((col("doc_id") +: TextOps.gopherColumns(col("page"))): _*)
        .orderBy("doc_id")
    }, Sql(
      (s"""WITH $linePageFixtureSql,
         $gopherRulesCteSql
         SELECT doc_id, n_words, mwl AS mean_word_len,
           swr AS sym_word_ratio, blf AS bullet_line_frac,
           elf AS ellipsis_line_frac, awf AS alpha_word_frac,
           n_req AS n_req_stopwords, gopher_keep
         FROM gr ORDER BY doc_id"""))),

    // C4 line-level cleaning (Raffel et al. 2020 §2.2) over the same
    // pages: terminal-punctuation / ≥3-word / no-"javascript" line
    // retention, page reconstruction, and the lorem-ipsum / brace /
    // ≥5-sentence document verdict — the cleaned text itself hashes,
    // so the whole line pipeline must agree byte-for-byte
    Query("text_c4_clean", (s, dir) => {
      // same minting barrier as text_gopher_rules
      val f = linePageFixture(table(s, dir, "documents"))
        .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
      f.select((col("doc_id") +: TextOps.c4CleanColumns(col("page"))): _*)
        .orderBy("doc_id")
    }, Sql(
      (s"""WITH $linePageFixtureSql,
         k AS (SELECT doc_id, page,
           string_split(page, chr(10)) AS lines FROM fix),
         f AS (SELECT doc_id, page, lines,
           list_filter(lines, l -> regexp_matches(rtrim(l), '[.!?"]$$')
             AND len(regexp_split_to_array(trim(l), '\\s+')) >= 3
             AND NOT contains(lower(l), 'javascript')) AS kept
           FROM k),
         c AS (SELECT doc_id, page, lines, kept,
           array_to_string(kept, chr(10)) AS text_clean FROM f)
         SELECT doc_id, text_clean,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept,
           CAST(len(regexp_extract_all(text_clean, '[.!?]+')) AS BIGINT)
             AS n_sent_clean,
           CAST((NOT contains(lower(page), 'lorem ipsum')
             AND NOT contains(page, '{')
             AND len(regexp_extract_all(text_clean, '[.!?]+')) >= 5
             AND len(kept) >= 1) AS INT) AS c4_keep
         FROM c ORDER BY doc_id"""))),

    // rule-based sentence segmentation: abbreviation protection
    // (word-bounded and multi-dot forms), decimal numbers never
    // split, terminator-inside-quotes splits after the quote, an
    // ellipsis splits only before a capital, unterminated tails
    // survive; the oracle re-runs the whole pipeline in SQL with the
    // abbreviation folds generated from the same Scala constants
    Query("text_sentences", (s, dir) => {
      val f = sentencePageFixture(table(s, dir, "documents"))
      f.select(col("doc_id"), posexplode(TextOps.sentenceSplit(col("page"))))
        .select(col("doc_id"), col("pos").as("sent_no"),
          col("col").as("sentence"))
        .orderBy("doc_id", "sent_no")
    }, Sql(
      s"""WITH f AS (SELECT doc_id,
           'Intro ' || string_split(text, ' ')[1] || ' opens. Then two! Three? '
           || 'Dr. ' || string_split(text, ' ')[1]
           || ' met Mr. Jones e.g. at 3.14 p.m. on Jan. 5. '
           || CASE WHEN doc_id % 2 = 0
                THEN 'Quoted "End." Follows now. ' ELSE '' END
           || CASE WHEN doc_id % 3 = 0
                THEN 'Wait... Then go. ' ELSE '' END
           || CASE WHEN doc_id % 5 = 0
                THEN 'Ellipsis trails... and continues here. ' ELSE '' END
           || 'Tail without terminator' AS page FROM documents),
         p0 AS (SELECT doc_id,
           replace(replace(page, chr(1), ''), chr(2), '') AS s FROM f),
         p1 AS (SELECT doc_id, $sentMultiFoldSql AS s FROM p0),
         p2 AS (SELECT doc_id, $sentAbbrevFoldSql AS s FROM p1),
         p3 AS (SELECT doc_id, regexp_replace(s,
           '([.!?]+["'')\\]]*)[ \\t\\n\\r\\f]+([A-Z0-9"''(\\[])',
           '\\1' || chr(2) || '\\2', 'g') AS s FROM p2),
         sp AS (SELECT doc_id,
           list_filter(list_transform(string_split(s, chr(2)),
             x -> trim(replace(x, chr(1), '.'))), x -> x <> '') AS ss
           FROM p3),
         e AS (SELECT doc_id, ss,
           unnest(generate_series(1, len(ss))) AS i FROM sp)
         SELECT doc_id, CAST(i - 1 AS INT) AS sent_no, ss[i] AS sentence
         FROM e ORDER BY doc_id, sent_no""")),

    // page-metadata extraction (title / meta description / og:title /
    // link canonical): title entity-decodes and whitespace-collapses,
    // the description carries &quot; escapes, og/description/canonical
    // appear only on their modulus classes ('' when absent); the
    // oracle states every field closed-form from the mint arithmetic
    Query("text_html_meta", (s, dir) => {
      val docs = table(s, dir, "documents")
      val d = col("doc_id")
      val k = (d % 5).cast("string")
      val p = (d % 25).cast("string")
      val html = concat(
        lit("<html><head><title> Doc "), d.cast("string"),
        lit(" &amp;  more </title>"),
        when(d % 2 === 0, concat(lit("<meta property=\"og:title\" content=\"OG "),
          p, lit("\">"))).otherwise(lit("")),
        when(d % 3 === 0, concat(
          lit("<meta name=\"description\" content=\"Desc &quot;"), p,
          lit("&quot; here\">"))).otherwise(lit("")),
        when(d % 5 === 0, concat(
          lit("<link rel=\"canonical\" href=\"https://site"), k,
          lit(".example/canon/"), p, lit("\">"))).otherwise(lit("")),
        lit("</head><body><p>x</p></body></html>"))
      docs.select(col("doc_id"), TextOps.htmlMeta(html).as("m"))
        .select(col("doc_id"), col("m.title").as("title"),
          col("m.description").as("description"),
          col("m.og_title").as("og_title"),
          col("m.canonical").as("canonical"))
        .orderBy("doc_id")
    }, Sql(
      """SELECT doc_id,
           'Doc ' || CAST(doc_id AS VARCHAR) || ' & more' AS title,
           CASE WHEN doc_id % 3 = 0
             THEN 'Desc "' || CAST(doc_id % 25 AS VARCHAR) || '" here'
             ELSE '' END AS description,
           CASE WHEN doc_id % 2 = 0
             THEN 'OG ' || CAST(doc_id % 25 AS VARCHAR)
             ELSE '' END AS og_title,
           CASE WHEN doc_id % 5 = 0
             THEN 'https://site' || CAST(doc_id % 5 AS VARCHAR)
               || '.example/canon/' || CAST(doc_id % 25 AS VARCHAR)
             ELSE '' END AS canonical
         FROM documents ORDER BY doc_id""")),

    // mojibake repair (the stage after charset decode): per-doc
    // fixture cycles untouched ASCII, legitimately-accented text the
    // repair must NOT alter, single and DOUBLE UTF-8-as-cp1252
    // mojibake, and a cp1252 0x80-0x9F punctuation case (curly quote,
    // em dash, euro); the oracle states the repaired text ITSELF and
    // the round count in closed form
    // HOMOGLYPH FOLDING (UTS #39 single-codepoint confusable
    // skeleton, Kernels.confusableFold): every doc_id<300 text pushed
    // through the lookalike map and folded back — the oracle
    // recomputes BOTH directions with plain translate() built from
    // the same table, so the kernel's whole mapping is hash-pinned
    Query("text_confusable_fold", (s, dir) =>
      table(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id"),
          graft.functions.GraftFunctions.confusableFold(
            translate(col("text"), confuseFrom, confuseTo)).as("folded"))
        .orderBy("doc_id"),
    Sql(
      // both directions through translate() from the shared table: the
      // oracle garbles with the same confuse map and folds with the
      // FULL fold map the kernel uses
      s"""SELECT doc_id,
           translate(translate(text, '${sqlLit(confuseFrom)}', '${sqlLit(confuseTo)}'),
             '${sqlLit(foldFrom)}', '${sqlLit(foldTo)}') AS folded
         FROM documents WHERE doc_id < 300 ORDER BY doc_id""")),

    Query("text_mojibake_fix", (s, dir) => {
      val mk = udf((id: Long, txt: String) => Ingest.mojibakeFixture(id, txt))
      table(s, dir, "documents")
        .select(col("doc_id"), mk(col("doc_id"), col("text")).as("garbled"))
        .select(col("doc_id"), TextOps.mojibakeFix(col("garbled")).as("f"))
        .select(col("doc_id"), col("f.text").as("text_fixed"),
          col("f.rounds").as("n_rounds"))
        .orderBy("doc_id")
    }, Sql(
      """SELECT doc_id,
           text || CASE doc_id % 5 WHEN 0 THEN ''
             WHEN 1 THEN ' café — naïve ’quote’'
             WHEN 2 THEN ' café résumé'
             WHEN 3 THEN ' déjà vu'
             ELSE ' l’élan — 20€' END AS text_fixed,
           CAST(CASE doc_id % 5 WHEN 0 THEN 0 WHEN 1 THEN 0
             WHEN 2 THEN 1 WHEN 3 THEN 2 ELSE 1 END AS INT) AS n_rounds
         FROM documents ORDER BY doc_id""")),

    // deterministic 25% Bernoulli sample of documents — the data-mix
    // primitive: hash-derived (reproducible across runs/cluster
    // sizes, nested across fractions, plain pushdown filter). The
    // determinism/rate/nesting contracts are SamplingSpec-tested;
    // rows-only — xxhash64 is engine-local
    Query("sample_bernoulli", (s, dir) =>
      Sampling.bernoulli(table(s, dir, "documents"), col("doc_id"), 0.25)
        .select("doc_id"),
    RowsOnly("graft.ops.SamplingSpec")),

    // quality-weighted take-k (Efraimidis–Spirakis A-Res): curation's
    // "mostly the best, some exploration" draw — inclusion odds
    // proportional to the fused quality score, O(k)-bounded plan
    // (rows-only; weighting/determinism contracts in SamplingSpec)
    Query("sample_quality_weighted", (s, dir) =>
      Sampling.weightedTakeK(
        table(s, dir, "documents")
          .withColumn("q", TextOps.qualityScoreFused(col("text"))),
        col("doc_id"), col("q"), k = 200)
        .select("doc_id"),
    RowsOnly("graft.ops.SamplingSpec")),

    // portable twin of sample_quality_weighted: the same A-Res draw
    // with an md5-derived uniform and a 6-decimal score grid + id
    // tiebreak, so the ENTIRE weighted draw — quality weight, uniform,
    // log-score, top-k — reproduces in DuckDB and is fully oracled
    // (the xxhash64 operator above stays the engine-local default)
    Query("sample_quality_weighted_portable", (s, dir) =>
      Sampling.weightedTakeKPortable(
        table(s, dir, "documents")
          .withColumn("q", TextOps.qualityScoreFused(col("text"))),
        col("doc_id"), col("q"), k = 200)
        .select("doc_id").orderBy("doc_id"),
    Sql(
      // the A-Res weighted draw end to end: UNROUNDED quality weight
      // (bit-identical IEEE ops; its rounded form is hash-proven by
      // text_langid_quality), 52-bit md5 uniform, ln-score on a
      // 6-decimal grid with doc_id tiebreak
      s"""WITH t0 AS (SELECT doc_id, text,
           regexp_split_to_array(lower(trim(text)), '\\s+') AS toks FROM documents),
         t AS (SELECT doc_id,
           least(length(text)/500.0, 1.0)*0.25
             + (len(regexp_replace(text, '[^A-Za-z]', '', 'g'))/greatest(length(text), 1))*0.35
             + least((len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'], x)))
                 / greatest(len(toks), 1))*5.0, 1.0)*0.2
             + CASE WHEN (length(regexp_replace(text, '\\s+', '', 'g'))/greatest(len(toks), 1))
                 BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END*0.2 AS q
           FROM t0),
         s AS (SELECT doc_id,
           round(ln((${hexValSql("md5(CAST(doc_id AS VARCHAR) || '#42')", 13)} + 1)
             / 4503599627370496.0) / q, 6) AS score
           FROM t WHERE q > 0)
         SELECT doc_id FROM (SELECT doc_id FROM s ORDER BY score DESC, doc_id LIMIT 200)
         ORDER BY doc_id""")),

    // portable twin of sample_bernoulli: md5 hex-threshold selection
    // reproduces byte-identically in ANY md5-capable engine, so this
    // one is fully DuckDB-oracled (the xxhash64 operator above stays
    // the cheap Spark-local default)
    Query("sample_bernoulli_portable", (s, dir) =>
      Sampling.bernoulliPortable(table(s, dir, "documents"),
          col("doc_id"), 0.25)
        .select("doc_id").orderBy("doc_id"),
    Sql(
      s"""SELECT doc_id FROM documents
         WHERE md5(CAST(doc_id AS VARCHAR) || '#42') <
           '${graft.ops.Mix.hexThreshold(0.25)}'
         ORDER BY doc_id""")),

    // per-stratum portable sampling: one md5 threshold literal per
    // source — the cross-engine stratified twin, fully oracled
    Query("sample_stratified_portable", (s, dir) =>
      Sampling.stratifiedPortable(table(s, dir, "documents"),
          col("doc_id"), col("source"),
          Map("src0" -> 0.05, "src1" -> 0.5), default = 0.25)
        .select("doc_id", "source").orderBy("doc_id"),
    Sql(
      s"""SELECT doc_id, source FROM documents
         WHERE md5(CAST(doc_id AS VARCHAR) || '#42') <
           CASE source
             WHEN 'src0' THEN '${graft.ops.Mix.hexThreshold(0.05)}'
             WHEN 'src1' THEN '${graft.ops.Mix.hexThreshold(0.5)}'
             ELSE '${graft.ops.Mix.hexThreshold(0.25)}' END
         ORDER BY doc_id""")),

    // PERPLEXITY FILTER (graft.ops.LangModel): add-k bigram NLL of
    // each document under the corpus's own statistics — the KenLM/
    // CCNet-style quality signal, fit+scored in one declarative plan
    Query("lm_bigram_score", (s, dir) =>
      LangModel.scoreBigram(table(s, dir, "documents"), col("text"),
          col("doc_id"), materialize = eagerPairs)
        .orderBy("doc_id"),
    Sql(
      """WITH toks AS (SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\s+') AS t
           FROM documents),
         big0 AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks),
         big AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM big0),
         d AS (SELECT doc_id, w1, w2, count(*) AS c FROM big GROUP BY 1, 2, 3),
         c2 AS (SELECT w1, w2, CAST(sum(c) AS BIGINT) AS c2 FROM d GROUP BY 1, 2),
         c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
         v AS (SELECT count(DISTINCT u.tok) AS v
           FROM (SELECT unnest(t) AS tok FROM toks) u)
         SELECT d.doc_id, CAST(sum(d.c) AS BIGINT) AS n_bigrams,
           round(sum(d.c * -ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * v.v)))
                 / sum(d.c), 6) AS nll
         FROM d JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
         GROUP BY 1 ORDER BY 1""")),

    // interpolated trigram NLL (Jelinek–Mercer λ3/λ2/λ1 with an add-k
    // unigram floor) — the higher-order member of the LM family
    Query("lm_trigram_score", (s, dir) =>
      LangModel.scoreTrigram(table(s, dir, "documents"), col("text"),
          col("doc_id"), materialize = eagerPairs)
        .orderBy("doc_id"),
    Sql(
      """WITH toks AS (SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\s+') AS t
           FROM documents),
         flat AS (SELECT unnest(t) AS tok FROM toks),
         tri0 AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
           FROM toks),
         tri AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3
           FROM tri0),
         d3 AS (SELECT doc_id, w1, w2, w3, count(*) AS c FROM tri
           GROUP BY 1, 2, 3, 4),
         c123 AS (SELECT w1, w2, w3, CAST(sum(c) AS BIGINT) AS c123
           FROM d3 GROUP BY 1, 2, 3),
         c12 AS (SELECT w1, w2, CAST(sum(c123) AS BIGINT) AS c12
           FROM c123 GROUP BY 1, 2),
         big0 AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks),
         big AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM big0),
         d2 AS (SELECT doc_id, w1, w2, count(*) AS c FROM big GROUP BY 1, 2, 3),
         c2 AS (SELECT w1, w2, CAST(sum(c) AS BIGINT) AS c2 FROM d2
           GROUP BY 1, 2),
         c2h AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c2h FROM c2 GROUP BY 1),
         c1 AS (SELECT tok, count(*) AS c1 FROM flat GROUP BY 1),
         nv AS (SELECT count(*) AS n_total, count(DISTINCT tok) AS v FROM flat)
         SELECT d3.doc_id, CAST(sum(d3.c) AS BIGINT) AS n_trigrams,
           round(sum(d3.c * -ln(
             0.6 * (c123.c123 * 1.0 / c12.c12) +
             0.3 * (c2.c2 * 1.0 / c2h.c2h) +
             0.1 * ((c1.c1 + 0.5) / (nv.n_total + 0.5 * nv.v))))
             / sum(d3.c), 6) AS nll
         FROM d3
           JOIN c123 USING (w1, w2, w3)
           JOIN c12 USING (w1, w2)
           JOIN c2 ON c2.w1 = d3.w2 AND c2.w2 = d3.w3
           JOIN c2h ON c2h.w1 = d3.w2
           JOIN c1 ON c1.tok = d3.w3
           CROSS JOIN nv
         GROUP BY 1 ORDER BY 1""")),

    // interpolated KNESER-NEY bigram NLL (fixed discount D=0.75,
    // add-k continuation floor): the distinct-continuation smoothing
    // that add-k and JM lack — a word's backoff mass tracks how many
    // contexts it follows, not how often it occurs. Fully oracled
    // (the statistic tables are plain aggregations of the bigram
    // type table)
    Query("lm_kn_score", (s, dir) =>
      LangModel.scoreKnBigram(table(s, dir, "documents"), col("text"),
          col("doc_id"), materialize = eagerPairs)
        .orderBy("doc_id"),
    Sql(
      """WITH toks AS (SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\s+') AS t
           FROM documents),
         big0 AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks),
         big AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM big0),
         d AS (SELECT doc_id, w1, w2, count(*) AS c FROM big GROUP BY 1, 2, 3),
         c2 AS (SELECT w1, w2, CAST(sum(c) AS BIGINT) AS c2 FROM d GROUP BY 1, 2),
         c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1, count(*) AS n1lead
                FROM c2 GROUP BY 1),
         nc AS (SELECT w2, count(*) AS n1cont FROM c2 GROUP BY 1),
         tv AS (SELECT (SELECT count(*) FROM c2) AS t,
                  (SELECT count(DISTINCT u.tok)
                   FROM (SELECT unnest(t) AS tok FROM toks) u) AS v)
         SELECT d.doc_id, CAST(sum(d.c) AS BIGINT) AS n_bigrams,
           round(sum(d.c * -ln(
             greatest(c2.c2 - 0.75, 0) / c1.c1
             + 0.75 * c1.n1lead / c1.c1
               * ((nc.n1cont + 0.5) / (tv.t + 0.5 * tv.v))))
             / sum(d.c), 6) AS nll
         FROM d JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
         JOIN nc USING (w2) CROSS JOIN tv
         GROUP BY 1 ORDER BY 1""")),

    // incremental Kneser-Ney: type table + (T, V) stored once on the
    // trusted slice, the increment scored with the same null-tolerant
    // arithmetic (unseen bigram → backoff mass; unseen history →
    // continuation distribution; unseen word → k/(T+kV) floor)
    Query("lm_kn_indexed", (s, dir) => {
      val docs = table(s, dir, "documents")
      val store = memoStore("knstats", dir)(p =>
        LangModel.buildKnBigramStats(docs.filter(col("doc_id") >= 50),
          col("text"), col("doc_id"), p))
      LangModel.scoreKnBigramAgainst(s, store, docs.filter(col("doc_id") < 50),
          col("text"), col("doc_id"))
        .orderBy("doc_id")
    }, Sql(
      // store-miss arithmetic mirrored: unseen bigram keeps only the
      // backoff term, unseen history falls back to the continuation
      // distribution, unseen word hits the add-k floor
      """WITH toks AS (SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\s+') AS t
           FROM documents),
         big0 AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks),
         big AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM big0),
         dall AS (SELECT doc_id, w1, w2, count(*) AS c FROM big GROUP BY 1, 2, 3),
         c2 AS (SELECT w1, w2, CAST(sum(c) AS BIGINT) AS c2 FROM dall
                WHERE doc_id >= 50 GROUP BY 1, 2),
         c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1, count(*) AS n1lead
                FROM c2 GROUP BY 1),
         nc AS (SELECT w2, count(*) AS n1cont FROM c2 GROUP BY 1),
         tv AS (SELECT (SELECT count(*) FROM c2) AS t,
                  (SELECT count(DISTINCT u.tok)
                   FROM (SELECT unnest(t) AS tok FROM toks
                         WHERE doc_id >= 50) u) AS v),
         q AS (SELECT * FROM dall WHERE doc_id < 50)
         SELECT q.doc_id, CAST(sum(q.c) AS BIGINT) AS n_bigrams,
           round(sum(q.c * -ln(
             CASE WHEN c1.c1 IS NOT NULL THEN
               greatest(coalesce(c2.c2, 0) - 0.75, 0) / c1.c1
               + 0.75 * c1.n1lead / c1.c1
                 * ((coalesce(nc.n1cont, 0) + 0.5) / (tv.t + 0.5 * tv.v))
             ELSE (coalesce(nc.n1cont, 0) + 0.5) / (tv.t + 0.5 * tv.v)
             END))
             / sum(q.c), 6) AS nll
         FROM q LEFT JOIN c2 USING (w1, w2) LEFT JOIN c1 USING (w1)
         LEFT JOIN nc USING (w2) CROSS JOIN tv
         GROUP BY 1 ORDER BY 1""")),

    // interpolated TRIGRAM Kneser-Ney (Chen & Goodman's interpolated
    // form, D=0.75 per level): the middle level runs on trigram-TYPE
    // continuation counts, the base level is the bigram model's
    // continuation distribution unchanged — fully oracled (every
    // statistic is an aggregation of the two type tables)
    Query("lm_kn3_score", (s, dir) =>
      LangModel.scoreKnTrigram(table(s, dir, "documents"), col("text"),
          col("doc_id"), materialize = eagerPairs)
        .orderBy("doc_id"),
    Sql(
      """WITH toks AS (SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\s+') AS t
           FROM documents),
         tri0 AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
                  FROM toks),
         tri AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3
                 FROM tri0),
         d3 AS (SELECT doc_id, w1, w2, w3, count(*) AS c FROM tri
                GROUP BY 1, 2, 3, 4),
         c123 AS (SELECT w1, w2, w3, CAST(sum(c) AS BIGINT) AS c123
                  FROM d3 GROUP BY 1, 2, 3),
         c12 AS (SELECT w1, w2, CAST(sum(c123) AS BIGINT) AS c12,
                   count(*) AS n1lead12 FROM c123 GROUP BY 1, 2),
         nc23 AS (SELECT w2, w3, count(*) AS n1c23 FROM c123 GROUP BY 1, 2),
         mid AS (SELECT w2, CAST(sum(n1c23) AS BIGINT) AS n1mid,
                   count(*) AS n1out FROM nc23 GROUP BY 1),
         big0 AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks),
         big AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM big0),
         c2 AS (SELECT w1, w2 FROM big GROUP BY 1, 2),
         nc AS (SELECT w2 AS w3, count(*) AS n1cont FROM c2 GROUP BY 1),
         tv AS (SELECT (SELECT count(*) FROM c2) AS t,
                  (SELECT count(DISTINCT u.tok)
                   FROM (SELECT unnest(t) AS tok FROM toks) u) AS v)
         SELECT d3.doc_id, CAST(sum(d3.c) AS BIGINT) AS n_trigrams,
           round(sum(d3.c * -ln(
             greatest(c123.c123 - 0.75, 0) / c12.c12
             + 0.75 * c12.n1lead12 / c12.c12
               * (greatest(nc23.n1c23 - 0.75, 0) / mid.n1mid
                  + 0.75 * mid.n1out / mid.n1mid
                    * ((nc.n1cont + 0.5) / (tv.t + 0.5 * tv.v)))))
             / sum(d3.c), 6) AS nll
         FROM d3 JOIN c123 USING (w1, w2, w3) JOIN c12 USING (w1, w2)
           JOIN nc23 USING (w2, w3) JOIN mid USING (w2)
           JOIN nc ON nc.w3 = d3.w3 CROSS JOIN tv
         GROUP BY 1 ORDER BY 1""")),

    // incremental trigram KN: both type tables + (T, V) stored once on
    // the trusted slice; the increment degrades through the same
    // arithmetic level by level (unseen trigram → history backoff,
    // unseen history → middle distribution, unseen middle →
    // continuation floor, unseen word → k/(T+kV))
    Query("lm_kn3_indexed", (s, dir) => {
      val docs = table(s, dir, "documents")
      val store = memoStore("kn3stats", dir)(p =>
        LangModel.buildKnTrigramStats(docs.filter(col("doc_id") >= 50),
          col("text"), col("doc_id"), p))
      LangModel.scoreKnTrigramAgainst(s, store, docs.filter(col("doc_id") < 50),
          col("text"), col("doc_id"))
        .orderBy("doc_id")
    }, Sql(
      // level-by-level store-miss arithmetic mirrored: unseen trigram
      // keeps only the history backoff, unseen history falls to the
      // middle (continuation-count) distribution, an unseen middle to
      // the floor distribution, an unseen word to the add-k floor
      """WITH toks AS (SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\s+') AS t
           FROM documents),
         tri0 AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
                  FROM toks),
         tri AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3
                 FROM tri0),
         dall AS (SELECT doc_id, w1, w2, w3, count(*) AS c FROM tri
                  GROUP BY 1, 2, 3, 4),
         c123 AS (SELECT w1, w2, w3, CAST(sum(c) AS BIGINT) AS c123
                  FROM dall WHERE doc_id >= 50 GROUP BY 1, 2, 3),
         c12 AS (SELECT w1, w2, CAST(sum(c123) AS BIGINT) AS c12,
                   count(*) AS n1lead12 FROM c123 GROUP BY 1, 2),
         nc23 AS (SELECT w2, w3, count(*) AS n1c23 FROM c123 GROUP BY 1, 2),
         mid AS (SELECT w2, CAST(sum(n1c23) AS BIGINT) AS n1mid,
                   count(*) AS n1out FROM nc23 GROUP BY 1),
         big0 AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks),
         big AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM big0),
         c2 AS (SELECT w1, w2 FROM big WHERE doc_id >= 50 GROUP BY 1, 2),
         nc AS (SELECT w2 AS w3, count(*) AS n1cont FROM c2 GROUP BY 1),
         tv AS (SELECT (SELECT count(*) FROM c2) AS t,
                  (SELECT count(DISTINCT u.tok)
                   FROM (SELECT unnest(t) AS tok FROM toks
                         WHERE doc_id >= 50) u) AS v),
         q AS (SELECT * FROM dall WHERE doc_id < 50)
         SELECT q.doc_id, CAST(sum(q.c) AS BIGINT) AS n_trigrams,
           round(sum(q.c * -ln(
             CASE WHEN c12.c12 IS NOT NULL THEN
               greatest(coalesce(c123.c123, 0) - 0.75, 0) / c12.c12
               + 0.75 * c12.n1lead12 / c12.c12
                 * (CASE WHEN mid.n1mid IS NOT NULL THEN
                      greatest(coalesce(nc23.n1c23, 0) - 0.75, 0) / mid.n1mid
                      + 0.75 * mid.n1out / mid.n1mid
                        * ((coalesce(nc.n1cont, 0) + 0.5)
                           / (tv.t + 0.5 * tv.v))
                    ELSE (coalesce(nc.n1cont, 0) + 0.5)
                         / (tv.t + 0.5 * tv.v) END)
             ELSE CASE WHEN mid.n1mid IS NOT NULL THEN
                    greatest(coalesce(nc23.n1c23, 0) - 0.75, 0) / mid.n1mid
                    + 0.75 * mid.n1out / mid.n1mid
                      * ((coalesce(nc.n1cont, 0) + 0.5)
                         / (tv.t + 0.5 * tv.v))
                  ELSE (coalesce(nc.n1cont, 0) + 0.5)
                       / (tv.t + 0.5 * tv.v) END
             END))
             / sum(q.c), 6) AS nll
         FROM q LEFT JOIN c123 USING (w1, w2, w3)
           LEFT JOIN c12 USING (w1, w2)
           LEFT JOIN nc23 USING (w2, w3) LEFT JOIN mid USING (w2)
           LEFT JOIN nc ON nc.w3 = q.w3 CROSS JOIN tv
         GROUP BY 1 ORDER BY 1""")),

    // INCREMENTAL perplexity: stats fit once on doc_id >= 50 (the
    // trusted-corpus store, CCNet shape), the increment scores against
    // the STORED counts with add-k OOV smoothing — fully oracled
    // (left joins + coalesce reproduce the store-miss arithmetic)
    Query("lm_bigram_indexed", (s, dir) => {
      val docs = table(s, dir, "documents")
      val store = memoStore("lmstats", dir)(p =>
        LangModel.buildBigramStats(docs.filter(col("doc_id") >= 50),
          col("text"), col("doc_id"), p))
      LangModel.scoreBigramAgainst(s, store, docs.filter(col("doc_id") < 50),
          col("text"), col("doc_id"))
        .orderBy("doc_id")
    }, Sql(
      """WITH toks AS (SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\s+') AS t
           FROM documents),
         big0 AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks),
         big AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM big0),
         d AS (SELECT doc_id, w1, w2, count(*) AS c FROM big GROUP BY 1, 2, 3),
         c2 AS (SELECT w1, w2, CAST(sum(c) AS BIGINT) AS c2 FROM d
           WHERE doc_id >= 50 GROUP BY 1, 2),
         c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
         v AS (SELECT count(DISTINCT u.tok) AS v
           FROM (SELECT unnest(t) AS tok FROM toks WHERE doc_id >= 50) u)
         SELECT d.doc_id, CAST(sum(d.c) AS BIGINT) AS n_bigrams,
           round(sum(d.c * -ln((coalesce(c2.c2, 0) + 0.5) /
                 (coalesce(c1.c1, 0) + 0.5 * v.v))) / sum(d.c), 6) AS nll
         FROM d LEFT JOIN c2 USING (w1, w2) LEFT JOIN c1 USING (w1)
           CROSS JOIN v
         WHERE d.doc_id < 50 GROUP BY 1 ORDER BY 1""")),

    // incremental Jelinek-Mercer: trigram stats stored once, the
    // increment scored with graceful per-term store-miss degradation
    // (unseen trigram/bigram slots coalesce to 0, unigram add-k floor)
    Query("lm_trigram_indexed", (s, dir) => {
      val docs = table(s, dir, "documents")
      val store = memoStore("lm3stats", dir)(p =>
        LangModel.buildTrigramStats(docs.filter(col("doc_id") >= 50),
          col("text"), col("doc_id"), p))
      LangModel.scoreTrigramAgainst(s, store, docs.filter(col("doc_id") < 50),
          col("text"), col("doc_id"))
        .orderBy("doc_id")
    }, Sql(
      """WITH toks AS (SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\s+') AS t
           FROM documents),
         flat AS (SELECT unnest(t) AS tok FROM toks WHERE doc_id >= 50),
         tri0 AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
           FROM toks),
         tri AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3
           FROM tri0),
         d3 AS (SELECT doc_id, w1, w2, w3, count(*) AS c FROM tri
           GROUP BY 1, 2, 3, 4),
         c123 AS (SELECT w1, w2, w3, CAST(sum(c) AS BIGINT) AS c123
           FROM d3 WHERE doc_id >= 50 GROUP BY 1, 2, 3),
         c12 AS (SELECT w1, w2, CAST(sum(c123) AS BIGINT) AS c12
           FROM c123 GROUP BY 1, 2),
         big0 AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks),
         big AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM big0),
         d2 AS (SELECT doc_id, w1, w2, count(*) AS c FROM big GROUP BY 1, 2, 3),
         c2 AS (SELECT w1, w2, CAST(sum(c) AS BIGINT) AS c2 FROM d2
           WHERE doc_id >= 50 GROUP BY 1, 2),
         c2h AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c2h FROM c2 GROUP BY 1),
         c1 AS (SELECT tok, count(*) AS c1 FROM flat GROUP BY 1),
         nv AS (SELECT count(*) AS n_total, count(DISTINCT tok) AS v FROM flat)
         SELECT d3.doc_id, CAST(sum(d3.c) AS BIGINT) AS n_trigrams,
           round(sum(d3.c * -ln(
             0.6 * coalesce(c123.c123 * 1.0 / c12.c12, 0) +
             0.3 * coalesce(c2.c2 * 1.0 / c2h.c2h, 0) +
             0.1 * ((coalesce(c1.c1, 0) + 0.5) / (nv.n_total + 0.5 * nv.v))))
             / sum(d3.c), 6) AS nll
         FROM d3
           LEFT JOIN c123 USING (w1, w2, w3)
           LEFT JOIN c12 USING (w1, w2)
           LEFT JOIN c2 ON c2.w1 = d3.w2 AND c2.w2 = d3.w3
           LEFT JOIN c2h ON c2h.w1 = d3.w2
           LEFT JOIN c1 ON c1.tok = d3.w3
           CROSS JOIN nv
         WHERE d3.doc_id < 50 GROUP BY 1 ORDER BY 1""")),

    // DSIR IMPORTANCE WEIGHTS (graft.ops.Dsir, public: Xie et al.
    // 2023): hashed unigram∪bigram bucket counts, add-α target-vs-raw
    // log-likelihood ratio per document — target domain = the labeled
    // English slice, raw = the whole corpus. Fully oracled: the md5
    // 4-nibble bucket hash is engine-portable verbatim
    Query("dsir_logweights", (s, dir) =>
      Dsir.logWeights(table(s, dir, "documents"), col("text"),
          col("doc_id"), col("lang") === "en", materialize = eagerPairs)
        .orderBy("doc_id"),
    Sql(
      s"""WITH $dsirWeightsCte
         SELECT doc_id, n_grams, logw FROM w ORDER BY doc_id""")),

    // DSIR GUMBEL TOP-N RESAMPLE: selection key = logw/τ + Gumbel
    // noise from the portable md5 uniform — sampling-without-
    // replacement ∝ exp(logw/τ), reproduced exactly by the oracle
    Query("dsir_resample", (s, dir) =>
      Dsir.resampleTopN(
        Dsir.logWeights(table(s, dir, "documents"), col("text"),
          col("doc_id"), col("lang") === "en", materialize = eagerPairs),
        n = 150, temperature = 2.0, seed = 7L),
    Sql(
      s"""WITH $dsirWeightsCte,
         k AS (SELECT doc_id, logw,
             round(logw / 2.0 - ln(-ln(
               (${hexValSql("md5(CAST(doc_id AS VARCHAR) || '#7')", 6)} + 0.5)
                 / 16777216.0)), 6) AS skey
           FROM w)
         SELECT doc_id, logw, skey FROM k
         ORDER BY skey DESC, doc_id LIMIT 150""")),

    // INCREMENTAL DSIR: bucket statistics fit once on doc_id >= 50
    // (the reference-corpus store, the CCNet shape), the increment
    // scores against the STORED counts with add-α store-miss
    // smoothing — fully oracled (left join + coalesce reproduces the
    // miss arithmetic)
    Query("dsir_logweights_indexed", (s, dir) => {
      val docs = table(s, dir, "documents")
      val store = memoStore("dsirstats", dir)(p =>
        Dsir.buildStats(docs.filter(col("doc_id") >= 50), col("text"),
          col("doc_id"), col("lang") === "en", p))
      Dsir.logWeightsAgainst(s, store, docs.filter(col("doc_id") < 50),
          col("text"), col("doc_id"))
        .orderBy("doc_id")
    }, Sql(
      s"""WITH toks AS (SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS t
           FROM documents),
         uni AS (SELECT doc_id, unnest(t) AS g FROM toks),
         big0 AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks),
         big AS (SELECT doc_id, t[i] || ' ' || t[i + 1] AS g FROM big0),
         grams AS (SELECT doc_id, g FROM uni
           UNION ALL SELECT doc_id, g FROM big),
         d AS (SELECT doc_id, ${hexValSql("md5(g)", 4)} % 4096 AS b,
             count(*) AS c
           FROM grams GROUP BY 1, 2),
         fl AS (SELECT doc_id, (lang = 'en') AS is_t FROM documents),
         gb AS (SELECT b, sum(c) AS cr,
             sum(CASE WHEN is_t THEN c ELSE 0 END) AS ct
           FROM d JOIN fl USING (doc_id)
           WHERE d.doc_id >= 50 GROUP BY 1),
         tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM gb)
         SELECT d.doc_id, CAST(sum(d.c) AS BIGINT) AS n_grams,
           round(sum(d.c *
             (ln((coalesce(gb.ct, 0) + 0.25) / (tot.nt + 0.25 * 4096))
            - ln((coalesce(gb.cr, 0) + 0.25) / (tot.nr + 0.25 * 4096)))),
             6) AS logw
         FROM d LEFT JOIN gb USING (b) CROSS JOIN tot
         WHERE d.doc_id < 50 GROUP BY 1 ORDER BY 1""")),

    // FEATURE-HASHED TF-IDF (graft.ops.TextOps.hashedTfIdf, the
    // hashing trick + smooth idf): the text→vector bridge, emitted
    // sparse as (doc_id, pos, w) — fully oracled (portable md5
    // bucketing + idf + L2 arithmetic verbatim in DuckDB)
    Query("text_hash_tfidf", (s, dir) =>
      TextOps.hashedTfIdf(table(s, dir, "documents")
          .filter(col("doc_id") < 100), col("text"), col("doc_id"),
          materialize = eagerPairs)
        .orderBy("doc_id", "pos"),
    Sql(
      s"""WITH toks AS (SELECT doc_id, unnest(
             regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
           FROM documents WHERE doc_id < 100),
         d AS (SELECT doc_id, ${hexValSql("md5(token)", 4)} % 1024 AS pos,
             count(*) AS tf
           FROM toks WHERE token <> '' GROUP BY 1, 2),
         df AS (SELECT pos, count(*) AS df FROM d GROUP BY 1),
         n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM d),
         wt AS (SELECT d.doc_id, d.pos,
             d.tf * (ln((n.n_docs + 1) / (df.df + 1.0)) + 1) AS w0
           FROM d JOIN df USING (pos) CROSS JOIN n),
         nrm AS (SELECT doc_id, sqrt(sum(w0 * w0)) AS nn
           FROM wt GROUP BY 1)
         SELECT wt.doc_id, wt.pos, round(wt.w0 / nrm.nn, 6) AS w
         FROM wt JOIN nrm USING (doc_id) ORDER BY doc_id, pos""")),

    // SPARSE ALL-PAIRS SIMILARITY (Similarity.sparseCosinePairs,
    // Bayardo et al. 2007): inverted-index join over the hashed
    // TF-IDF rows — text near-dup pairs with NO embedding model,
    // composed from the oracled sparse form and oracled end to end
    Query("text_sparse_cosine_pairs", (s, dir) =>
      Similarity.sparseCosinePairs(
          TextOps.hashedTfIdf(table(s, dir, "documents")
            .filter(col("doc_id") < 100), col("text"), col("doc_id"),
            materialize = eagerPairs),
          threshold = 0.85)
        .orderBy("id_a", "id_b"),
    Sql(
      s"""WITH toks AS (SELECT doc_id, unnest(
             regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
           FROM documents WHERE doc_id < 100),
         d AS (SELECT doc_id, ${hexValSql("md5(token)", 4)} % 1024 AS pos,
             count(*) AS tf
           FROM toks WHERE token <> '' GROUP BY 1, 2),
         df AS (SELECT pos, count(*) AS df FROM d GROUP BY 1),
         n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM d),
         wt AS (SELECT d.doc_id, d.pos,
             d.tf * (ln((n.n_docs + 1) / (df.df + 1.0)) + 1) AS w0
           FROM d JOIN df USING (pos) CROSS JOIN n),
         nrm AS (SELECT doc_id, sqrt(sum(w0 * w0)) AS nn
           FROM wt GROUP BY 1),
         s AS (SELECT wt.doc_id, wt.pos, round(wt.w0 / nrm.nn, 6) AS w
           FROM wt JOIN nrm USING (doc_id)),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             round(sum(a.w * b.w), 4) AS cos
           FROM s a JOIN s b ON a.pos = b.pos AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT id_a, id_b, cos FROM p WHERE cos >= 0.85
         ORDER BY id_a, id_b""")),

    // COMPOSED PIPELINE: DSIR Gumbel resample → greedy sequence
    // packing — the domain-tilted selection flowing straight into a
    // trainer-ready layout, oracled END TO END (the selection CTEs
    // feed the pack fold inside one oracle query)
    Query("dsir_pack_greedy", (s, dir) => {
      val docs = table(s, dir, "documents")
      val sel = Dsir.resampleTopN(
        Dsir.logWeights(docs, col("text"), col("doc_id"),
          col("lang") === "en", materialize = eagerPairs),
        n = 150, temperature = 2.0, seed = 7L)
      Pack.packGreedy(docs.join(sel.select("doc_id"), Seq("doc_id")),
          col("doc_id"), TextOps.tokenCount(col("text")), seqLen = 2048,
          shards = 8, seed = 3L)
        .orderBy("shard", "bin", "doc_id")
    }, Sql(
      s"""WITH RECURSIVE $dsirWeightsCte,
         k AS (SELECT doc_id, logw,
             round(logw / 2.0 - ln(-ln(
               (${hexValSql("md5(CAST(doc_id AS VARCHAR) || '#7')", 6)} + 0.5)
                 / 16777216.0)), 6) AS skey
           FROM w),
         sel AS (SELECT doc_id FROM k ORDER BY skey DESC, doc_id LIMIT 150),
         pd AS (SELECT d0.doc_id, d0.n_tokens, d0.h,
             ${hexValSql("d0.h", 2)} % 8 AS shard
           FROM (SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
                 AS n_tokens,
               md5(CAST(doc_id AS VARCHAR) || '#3') AS h
             FROM documents JOIN sel USING (doc_id)) d0
           WHERE n_tokens > 0),
         pr AS (SELECT doc_id, n_tokens, h, shard,
             row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS rn
           FROM pd),
         pf AS (
           SELECT doc_id, shard, rn, n_tokens,
             CAST(0 AS BIGINT) AS bin, n_tokens AS fill
           FROM pr WHERE rn = 1
           UNION ALL
           SELECT pr.doc_id, pr.shard, pr.rn, pr.n_tokens,
             CASE WHEN pf.fill + pr.n_tokens <= 2048
                  THEN pf.bin ELSE pf.bin + 1 END,
             CASE WHEN pf.fill + pr.n_tokens <= 2048
                  THEN pf.fill + pr.n_tokens ELSE pr.n_tokens END
           FROM pf JOIN pr ON pr.shard = pf.shard AND pr.rn = pf.rn + 1)
         SELECT doc_id, CAST(shard AS BIGINT) AS shard, bin, n_tokens
         FROM pf ORDER BY shard, bin, doc_id""")),
  )
}
