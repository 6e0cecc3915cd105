package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model._
import graft.ops._
import graft.queries._
import graft.time._

/** The query contract (SURVEY.md §7): `queries` maps each registered
  * query name to the closure that builds its result over an sf
  * directory, `oracleSql` holds the DuckDB SQL each result is
  * hash-compared against at sf0.01 (`graft.Verify` dumps both), and
  * `entry` is the flagship smoke query.
  *
  * Both maps are derived from ONE table: each query is one
  * [[graft.queries.Query]] row (name, build, oracle), declared beside
  * its oracle in a per-family object under `graft.queries`
  * (`TsQueries`, `RelationalQueries`, `DedupQueries`, `AnnQueries`,
  * `TextQueries`, `UrlQueries`, `MediaQueries`, `GraphQueries`,
  * `StreamQueries`). An oracle is either `Sql` or `RowsOnly(anchor)`:
  * queries without a SQL twin (engine-specific hashing, sampling,
  * approximate sketches) get a rows-only check, and the anchor names
  * the spec that checks their recall or exactness.
  * This object keeps what the families share: the table readers, the
  * event-log fixture and interval maps, result presentation, the
  * per-JVM store memo, the deterministic fixtures and the SQL helpers
  * more than one family reads.
  *
  * Float policy: any double produced by reordering-sensitive math
  * (sums, means, rates, cosines) is round(_, 4..6) on BOTH sides so the
  * compare is immune to accumulation-order differences; exact values
  * (min/max/last/counts) are left untouched.
  */
object SparkEntry {

  /** The driver's events parquet carries TIMESTAMP(NANOS), which Spark's
    * vectorized reader rejects; read nanos as LONG and convert to a
    * micros TIMESTAMP (bucket math is second-granular, so the truncation
    * is invisible to every query). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros((col("ts") / 1000).cast(LongType)))
    else raw
  }
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Result presentation for BOUNDED outputs (metadata listings, small
    * aggregate grids, top-k): fold the final stage to one task and sort
    * locally. A global `orderBy` plans a RangePartitioning exchange
    * whose bounds require a separate SAMPLING JOB on every execution —
    * for a query whose whole result is a few hundred rows that job
    * dominates warm latency (measured: ts_list 0.39s → the sample job
    * and extra exchange are most of it). Single-task sort of a bounded
    * result is also the right 100 TB shape: the ordering here is
    * presentation, applied AFTER the distributed aggregation has
    * reduced the data, not a distributed sort of raw rows. Unbounded
    * outputs (per-doc tables, pair lists) keep their range-sort. */
  private[graft] def presentSorted(df: DataFrame, cols: Column*): DataFrame =
    df.coalesce(1).sortWithinPartitions(cols: _*)

  /** Postfix form of [[presentSorted]], overload-compatible with
    * `orderBy` so a bounded-output query swaps sorts with a one-token
    * change. Only used where the result is bounded by the QUERY
    * contract (a stat×bucket grid, a rollup, a confusion matrix) — not
    * by the corpus size; per-doc/per-pair dumps keep `orderBy`. */
  private[graft] implicit class BoundedPresentation(df: DataFrame) {
    def presentSorted(cols: Column*): DataFrame =
      df.coalesce(1).sortWithinPartitions(cols: _*)
    def presentSorted(c0: String, cs: String*): DataFrame =
      df.coalesce(1).sortWithinPartitions(c0, cs: _*)
  }

  /** Pair queries eagerly checkpoint their verified pair sets so the
    * LSH signature caches release immediately (session cache hygiene).
    * SPARK_GRAFT_EAGER_PAIRS=0 keeps those plans lazy — used by
    * graft.Explain to audit the full physical funnel. */
  private[graft] def eagerPairs: Boolean =
    sys.env.getOrElse("SPARK_GRAFT_EAGER_PAIRS", "1") != "0"

  /** Per-JVM memo of persisted side artifacts (IVF index, int8 corpus):
    * built ONCE per (kind, sf-dir) and reused by every later invocation
    * — the write-once-read-many semantic the store paths model (at
    * scale the index build is a day-scale batch job; only the probe
    * side belongs in the query). In Bench the cold run pays the build,
    * the warm run measures the query alone — the scale-relevant
    * number. */
  private val storeMemo = new scala.collection.concurrent.TrieMap[String, String]()
  private[graft] def memoStore(kind: String, sfDir: String)(build: String => Unit): String =
    storeMemo.getOrElseUpdate(s"$kind|$sfDir", {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_$kind").toString
      build(dir)
      dir
    })

  /** Planted media "re-encodes" for the phash fixtures: every 10th
    * doc's payload with one 8-byte run replaced by bytes copied from
    * elsewhere in the SAME payload — the copy shifts the global byte
    * sum only by the difference of two 8-byte text runs (negligible,
    * so near-tie blocks stay put; measured 48/50 recall at hamming
    * ≤ 3), where a constant overwrite would shift the mean enough to
    * flip near-tie bits across these narrow-range text payloads.
    * Shared by the inline and indexed phash queries — their parity
    * depends on one fixture. */
  private[graft] def reencodedMedia(media: DataFrame): DataFrame =
    media.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("media_type"),
        overlay(col("media"), substring(col("media"), 33, 8), lit(17))
          .as("media"))

  /** Canonical kairos fixture over events: name=event_type, ts,
    * value, seq=event_id (arrival order). */
  def eventLog(spark: SparkSession, dir: String, seriesType: SeriesType,
      intervals: Map[String, IntervalSpec], value: Column = col("value")): Timeseries = {
    val t = new Timeseries(spark, seriesType, intervals)
    t.attach(t.bucketize(events(spark, dir), col("event_type"), col("ts"), value, col("event_id")))
    t
  }

  val minuteHour: Map[String, IntervalSpec] = Map(
    "minute" -> IntervalSpec(TimeStep(60L)),
    "hour"   -> IntervalSpec(TimeStep(3600L), None, Some(TimeStep(60L))))
  val minuteOnly: Map[String, IntervalSpec] = Map("minute" -> IntervalSpec(TimeStep(60L)))
  val minuteTtl: Map[String, IntervalSpec] = Map("minute" -> IntervalSpec(TimeStep(60L), Some(1440)))
  val hourFine: Map[String, IntervalSpec] = Map(
    "hour" -> IntervalSpec(TimeStep(3600L), None, Some(TimeStep(60L))))
  val gregorian: Map[String, IntervalSpec] = Map(
    "daily"   -> IntervalSpec(TimeStep("daily")),
    "weekly"  -> IntervalSpec(TimeStep("weekly")),
    "monthly" -> IntervalSpec(TimeStep("monthly")),
    "yearly"  -> IntervalSpec(TimeStep("yearly")))

  /** 2024-01-01T00:00:00Z — the fixed series anchor for the events data. */
  val START: Long = 1704067200L

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("ts_count_minute")(spark, "/root/testdata/sf0.001")

  /** Aggregate the bucket log at (name, i_bucket): the engine core the
    * per-name kairos API fixes `name` on; inventory queries keep it as a
    * grouping column. ord = struct(r_time, seq): resolution order then
    * arrival order — a struct, not a linearized r*K+seq scalar, so seq
    * can't overflow its slot at scale. Output i_time stays a bucket id.
    * The constructor readFunc is applied (the cast step P2). */
  private[graft] def grouped(t: Timeseries, interval: String): DataFrame = {
    val prepared = t.log
      .filter(col("interval") === interval)
      .select(col("name"), col("i_time"),
        struct(col("r_time"), col("seq")).as("ord"),
        t.readFunc(col("value")).as("value"))
    t.seriesType.aggregate(prepared, Seq("name", "i_time"))
  }

  private[graft] def fromB(c: Column, step: TimeStep): Column = TimeColumns.fromBucket(c, step)

  // =====================================================================
  // the query table: one row per query, declared by family
  // =====================================================================

  /** Every registered query, family by family. Lazy (as are the maps
    * below) so the family objects, which read this object's helpers,
    * initialize after it; a name declared twice fails here. */
  private[graft] lazy val rows: Seq[Query] = {
    val all = Seq(TsQueries.rows, RelationalQueries.rows, DedupQueries.rows,
      AnnQueries.rows, TextQueries.rows, UrlQueries.rows, MediaQueries.rows,
      GraphQueries.rows, StreamQueries.rows).flatten
    val dups = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty,
      s"query declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    all
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    rows.map(q => q.name -> q.build).toMap

  lazy val oracleSql: Map[String, String] =
    rows.collect { case Query(n, _, Oracle.Sql(sql)) => n -> sql }.toMap

  // =====================================================================
  // shared fixtures and DuckDB helpers
  // =====================================================================

  /** Confusable-fold translate tables, derived from the ONE source of
    * truth ([[graft.functions.Kernels.confusablePairs]]) so the Spark
    * fixture, the kernel, and the DuckDB oracle can never drift:
    * confuse = first lookalike per ASCII letter (the plant direction),
    * fold = every lookalike back to its skeleton. */
  private[graft] val (confuseFrom, confuseTo) = {
    val seen = scala.collection.mutable.LinkedHashMap[Int, Int]()
    graft.functions.Kernels.confusablePairs.foreach { case (src, tgt) =>
      if (tgt < 128 && Character.isLetter(tgt) && !seen.contains(tgt))
        seen(tgt) = src
    }
    (seen.keys.map(_.toChar).mkString, seen.values.map(_.toChar).mkString)
  }
  private[graft] val foldFrom =
    graft.functions.Kernels.confusablePairs.map(_._1.toChar).mkString
  private[graft] val foldTo =
    graft.functions.Kernels.confusablePairs.map(_._2.toChar).mkString
  /** SQL string-literal escape: the fold tables contain the ASCII
    * quote (fullwidth block → !..~). */
  private[graft] def sqlLit(s: String): String = s.replace("'", "''")

  /** DuckDB integer value of the first `n` hex digits of SQL
    * expression `h` (a lowercase md5 string) — the portable twin of
    * Spark's `conv(substring(h, 1, n), 16, 10)`, built from the same
    * strpos nibble parse the pack oracles use. */
  private[graft] def hexValSql(h: String, n: Int): String =
    (1 to n).map(i =>
      s"(strpos('0123456789abcdef', substr($h, $i, 1)) - 1) * ${1L << (4 * (n - i))}")
      .mkString("(", " + ", ")")

  /** Deterministic raw-URL fixture for the url_* queries: four raw
    * spellings of the logical page keyed by (doc_id%5 → host,
    * doc_id%25 → path and www-prefix), all of which canonicalize to
    * `http://[www.]site<k>.<tld>/page/<p>`. */
  private[graft] def urlFixtureCol: Column = {
    val host = concat(
      when(col("doc_id") % 25 < 5, lit("www.")).otherwise(lit("")),
      lit("site"), (col("doc_id") % 5).cast("string"),
      when((col("doc_id") % 5) % 2 === 0, lit(".co.uk")).otherwise(lit(".com")))
    val p = (col("doc_id") % 25).cast("string")
    val v = col("doc_id") % 4
    when(v === 0, concat(lit("http://"), upper(host), lit("/page/"), p, lit("/")))
      .when(v === 1, concat(lit("HTTP://"), host, lit(":80/page/"), p,
        lit("?utm_source=feed")))
      .when(v === 2, concat(lit("http://user@"), host, lit("/page/"), p,
        lit("#section")))
      .otherwise(concat(host, lit("/page/"), p))
  }

  private[graft] def urlFixture(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), urlFixtureCol.as("url"))

  /** Deterministic full-page HTML fixture for `text_main_content`: the
    * document text split into two `<p>` blocks inside `<main>`,
    * wrapped in the chrome a real crawl page carries — head with
    * style+script, nav menu, header banner, a link-farm related-list
    * on every 4th doc (one entry LONG, so only link density can kill
    * it), an aside ad, an entity-bearing footer — plus an in-content
    * anchor ("the source") that must SURVIVE extraction. */
  private[graft] def htmlPageFixture(docs: DataFrame): DataFrame = {
    val words = split(col("text"), " ")
    val n = size(words)
    val half = greatest((n.cast(DoubleType) / 2).cast(IntegerType), lit(1))
    val p1 = array_join(slice(words, lit(1), half), " ")
    val p2 = array_join(slice(words, half + 1, greatest(n - half, lit(0))), " ")
    docs.select(col("doc_id"), concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title><style>body{margin:0}</style><script>var x=1;</script></head><body>"),
      lit("<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a> <a href=\"/contact\">Contact</a></nav>"),
      lit("<header><h1>Site "), (col("doc_id") % 7).cast("string"),
      lit("</h1></header><main><p>"), p1,
      lit("</p><p>"), p2, lit(" See also <a href=\"/ref\">the source</a>.</p>"),
      when(col("doc_id") % 4 === 0,
        lit("<ul><li><a href=\"/r1\">Related one: how the spark shuffle works in practice</a></li><li><a href=\"/r2\">Related two</a></li></ul>"))
        .otherwise(lit("")),
      lit("</main><aside><a href=\"/ad\">Sponsored links</a></aside><footer>&copy; 2026 Site <a href=\"/terms\">Terms</a></footer></body></html>"))
      .as("html"))
  }

  /** Deterministic multi-line page fixture for the line-level quality
    * gates (`text_gopher_rules`, `text_c4_clean`): the flat corpus
    * text re-chunked into 4–6-word lines with structure the rules
    * must react to — bullet prefixes (every 7th line), rotating
    * terminal punctuation incl. a no-punct and an ellipsis slot
    * (mod 6), "javascript" insertions (every 13th line), and
    * doc-keyed extra lines (Gopher stopwords, "lorem ipsum", a
    * braced code line, a numeric line, a '#'-heavy line). The oracle
    * SQL re-mints the identical page from the same arithmetic, so
    * fixture and oracle cannot drift. */
  private[graft] def linePageFixture(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), linePageFixtureCol.as("page"))

  private[graft] def linePageFixtureCol: Column = {
    val ws = split(col("text"), " ")
    val nw = size(ws).cast("long")
    val kk = lit(4L) + col("doc_id") % 3
    val nChunks = floor((nw + kk - lit(1L)) / kk).cast("long")
    val d = col("doc_id")
    val lines = transform(sequence(lit(0L), nChunks - 1), i =>
      concat(
        when((d + i) % 7 === 0, lit("- ")).otherwise(lit("")),
        array_join(slice(ws, (i * kk + 1).cast("int"), kk.cast("int")), " "),
        when((d + i) % 13 === 0, lit(" javascript")).otherwise(lit("")),
        when((d + i) % 6 === 0, lit("."))
          .when((d + i) % 6 === 1, lit("!"))
          .when((d + i) % 6 === 2, lit("?"))
          .when((d + i) % 6 === 3, lit("..."))
          .when((d + i) % 6 === 4, lit(""))
          .otherwise(lit("."))))
    val page = concat(
      array_join(lines, "\n"),
      when(d % 3 === 0, lit("\nthat will be of and with the."))
        .otherwise(lit("")),
      when(d % 17 === 0, lit("\nlorem ipsum dolor sit amet."))
        .otherwise(lit("")),
      when(d % 19 === 0, lit("\nfunction() { var x = 1; }."))
        .otherwise(lit("")),
      when(d % 23 === 0, lit("\n12345 67890 11 22 33."))
        .otherwise(lit("")),
      when(d % 29 === 0, lit("\n# header # tags # # #."))
        .otherwise(lit("")))
    page
  }

  /** The page-minting CTE shared verbatim by the `text_gopher_rules`
    * and `text_c4_clean` oracles — the SQL restatement of
    * [[linePageFixture]]'s arithmetic. */
  private[graft] val linePageFixtureSql: String =
    """w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       p AS (SELECT doc_id, ws, len(ws) AS nw, 4 + doc_id % 3 AS k FROM w),
       lns AS (SELECT doc_id,
         list_transform(generate_series(0, (nw + k - 1)//k - 1), i ->
           (CASE WHEN (doc_id + i) % 7 = 0 THEN '- ' ELSE '' END) ||
           array_to_string(list_slice(ws, i*k + 1, least((i+1)*k, nw)), ' ') ||
           (CASE WHEN (doc_id + i) % 13 = 0 THEN ' javascript' ELSE '' END) ||
           (CASE (doc_id + i) % 6 WHEN 0 THEN '.' WHEN 1 THEN '!'
             WHEN 2 THEN '?' WHEN 3 THEN '...' WHEN 4 THEN ''
             ELSE '.' END)) AS lines
         FROM p),
       fix AS (SELECT doc_id,
         array_to_string(lines, chr(10)) ||
         (CASE WHEN doc_id % 3 = 0
            THEN chr(10) || 'that will be of and with the.' ELSE '' END) ||
         (CASE WHEN doc_id % 17 = 0
            THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END) ||
         (CASE WHEN doc_id % 19 = 0
            THEN chr(10) || 'function() { var x = 1; }.' ELSE '' END) ||
         (CASE WHEN doc_id % 23 = 0
            THEN chr(10) || '12345 67890 11 22 33.' ELSE '' END) ||
         (CASE WHEN doc_id % 29 = 0
            THEN chr(10) || '# header # tags # # #.' ELSE '' END) AS page
         FROM lns)"""

  /** The Gopher-rule CTE chain shared by the `text_gopher_rules` and
    * `url_domain_quality` oracles: consumes the `fix` CTE from
    * [[linePageFixtureSql]], ends in `gr` (doc_id, per-rule stats on
    * the 1e-6 floor grid, `gopher_keep`). The required-stopword sum
    * is generated from [[graft.ops.TextOps.gopherStopwords]], so the
    * oracle and the engine share one constant list. */
  private[graft] val gopherRulesCteSql: String =
    s"""g AS (SELECT doc_id, page,
           regexp_split_to_array(trim(page), '\\s+') AS words,
           string_split(page, chr(10)) AS lines FROM fix),
         s AS (SELECT doc_id,
           CAST(len(words) AS BIGINT) AS n_words,
           CAST(greatest(len(words), 1) AS DOUBLE) AS nw,
           length(regexp_replace(page, '\\s+', '', 'g')) AS nonws,
           len(regexp_extract_all(page, '#')) +
             len(regexp_extract_all(page, '\\.\\.\\.')) +
             len(regexp_extract_all(page, '…')) AS nsym,
           CAST(greatest(len(lines), 1) AS DOUBLE) AS nl,
           len(list_filter(lines, l -> regexp_matches(l, '^[-•*]'))) AS nbul,
           len(list_filter(lines,
             l -> regexp_matches(l, '(\\.\\.\\.|…)$$'))) AS nell,
           len(list_filter(words,
             w -> regexp_matches(w, '[A-Za-z]'))) AS nalpha,
           CAST(${TextOps.gopherStopwords.map(w =>
             s"(CASE WHEN regexp_matches(lower(page), '\\b$w\\b')" +
               " THEN 1 ELSE 0 END)").mkString(" + ")} AS BIGINT) AS n_req
           FROM g),
         r AS (SELECT doc_id, n_words, n_req,
           floor(CAST(nonws AS DOUBLE) / nw * CAST(1000000 AS DOUBLE)
             + CAST(0.5 AS DOUBLE)) / CAST(1000000 AS DOUBLE) AS mwl,
           floor(CAST(nsym AS DOUBLE) / nw * CAST(1000000 AS DOUBLE)
             + CAST(0.5 AS DOUBLE)) / CAST(1000000 AS DOUBLE) AS swr,
           floor(CAST(nbul AS DOUBLE) / nl * CAST(1000000 AS DOUBLE)
             + CAST(0.5 AS DOUBLE)) / CAST(1000000 AS DOUBLE) AS blf,
           floor(CAST(nell AS DOUBLE) / nl * CAST(1000000 AS DOUBLE)
             + CAST(0.5 AS DOUBLE)) / CAST(1000000 AS DOUBLE) AS elf,
           floor(CAST(nalpha AS DOUBLE) / nw * CAST(1000000 AS DOUBLE)
             + CAST(0.5 AS DOUBLE)) / CAST(1000000 AS DOUBLE) AS awf
           FROM s),
         gr AS (SELECT doc_id, n_words, n_req, mwl, swr, blf, elf, awf,
           CAST((n_words BETWEEN 50 AND 100000
             AND mwl BETWEEN CAST(3 AS DOUBLE) AND CAST(10 AS DOUBLE)
             AND swr <= CAST(0.1 AS DOUBLE)
             AND blf <= CAST(0.9 AS DOUBLE)
             AND elf <= CAST(0.3 AS DOUBLE)
             AND awf >= CAST(0.8 AS DOUBLE)
             AND n_req >= 2) AS INT) AS gopher_keep
           FROM r)"""

  /** Deterministic per-host robots.txt fixture shared by
    * `url_robots_filter` and `url_sitemaps`: even hosts carry a
    * graftbot group that shadows a Disallow-everything star group plus
    * one Sitemap line; odd hosts carry a star-only policy and two
    * Sitemap lines (one lowercase+indented, pinning the (?im)
    * line-anchored extraction). */
  private[graft] def robotsFixture(docs: DataFrame): DataFrame = {
    val evenRobots = "# crawl policy\nUser-agent: graftbot\n" +
      "Disallow: /private\nAllow: /private/ok\n\n" +
      "User-agent: *\nDisallow: /\n" +
      "Sitemap: https://cdn.example/sitemap-even.xml\n"
    val oddRobots = "User-agent: *\nDisallow: /tmp\nAllow: /tmp/keep\n" +
      "Sitemap: https://cdn.example/sitemap-odd.xml\n" +
      "  sitemap: https://cdn.example/sitemap-odd-2.xml\n"
    docs.select((col("doc_id") % 5).as("k")).distinct()
      .select(concat(lit("site"), col("k").cast("string"),
          lit(".example")).as("host"),
        when(col("k") % 2 === 0, lit(evenRobots))
          .otherwise(lit(oddRobots)).as("robots_txt"))
  }

  /** Per-language marker phrases for the `langid_nb_eval` fixture —
    * the corpus text is language-independent soup, so the fixture
    * appends genuine orthography keyed by the labeled lang; the
    * oracle's CASE is generated from this SAME map, so fixture and
    * oracle cannot drift. */
  private[graft] val LangPhrases: Seq[(String, String)] = Seq(
    "en" -> "the quick brown fox jumps over the lazy dog and reads the morning news with great interest",
    "de" -> "der schnelle braune fuchs springt über den faulen hund und liest die morgenzeitung mit großem interesse",
    "fr" -> "le rapide renard brun saute par dessus le chien paresseux et lit le journal du matin avec grand intérêt",
    "es" -> "el rápido zorro marrón salta sobre el perro perezoso y lee las noticias de la mañana con gran interés",
    "zh" -> "敏捷的棕色狐狸跳过懒惰的狗并且饶有兴趣地阅读早晨的新闻报纸")

  private[graft] def langMarkedDocs(docs: DataFrame): DataFrame = {
    val phrase = LangPhrases.foldLeft(lit("")) { case (acc, (l, p)) =>
      when(col("lang") === l, lit(p)).otherwise(acc)
    }
    docs.select(col("doc_id"), col("lang"),
      concat(col("text"), lit(" "), phrase).as("mtext"))
  }

  /** Robots policies for the hosts the `url_sitemap_entries` urlset
    * locs live on (w0..w6.example) — `url_frontier_gated` composes
    * them with the parsed frontier. Even hosts: one wildcard deep-page
    * Disallow. Odd hosts: Disallow-everything, a specificity-ranked
    * wildcard re-Allow, and a longer wildcard Disallow out-ranking it
    * — the same verdicts through opposite rule mechanics. */
  private[graft] def frontierRobotsFixture(docs: DataFrame): DataFrame = {
    val even = "User-agent: *\nDisallow: /p/*/sub\n"
    val odd = "User-agent: *\nDisallow: /\nAllow: /p/*$\nDisallow: /p/*/sub*\n"
    docs.select((col("doc_id") % 7).as("k")).distinct()
      .select(concat(lit("w"), col("k").cast("string"),
          lit(".example")).as("host"),
        when(col("k") % 2 === 0, lit(even)).otherwise(lit(odd))
          .as("robots_txt"))
  }

  /** Deterministic crawl-delay robots fixture for `url_crawl_delay` —
    * four policy shapes keyed by host id k (doc_id%4): k=0 a graftbot
    * group whose LAST of two delays wins while a star delay is
    * shadowed; k=1 star-only with an invalid value before the valid
    * one (and a case-variant key); k=2 a graftbot group with rules
    * but NO delay, shadowing a star delay (→ NULL); k=3 no delay
    * anywhere (→ NULL). */
  private[graft] def crawlDelayFixture(docs: DataFrame): DataFrame = {
    val r0 = "User-agent: graftbot\nCrawl-delay: 1.5\nDisallow: /x\n" +
      "Crawl-delay: 2.5\n\nUser-agent: *\nCrawl-delay: 10\n"
    val r1 = "User-agent: *\nCrawl-delay: fast\ncrawl-delay: 0.5\n"
    val r2 = "User-agent: graftbot\nDisallow: /x\n\nUser-agent: *\nCrawl-delay: 7\n"
    val r3 = "User-agent: *\nDisallow: /tmp\n"
    docs.select((col("doc_id") % 4).as("k")).distinct()
      .select(concat(lit("delay"), col("k").cast("string"),
          lit(".example")).as("host"),
        when(col("k") === 0, lit(r0)).when(col("k") === 1, lit(r1))
          .when(col("k") === 2, lit(r2)).otherwise(lit(r3)).as("robots_txt"))
  }

  /** Deterministic wildcard-rule robots fixture for
    * `url_robots_wildcards`: even hosts carry the RFC 9309 special-
    * character idioms (a query-string Disallow with a mid-rule `*`,
    * a `$`-anchored wildcard Allow overriding a directory Disallow,
    * and a bare `$`-anchored Disallow); odd hosts carry percent-
    * encoded rules (a literal-space rule and a UTF-8-escaped one)
    * that must match raw-space / raw-UTF-8 URL spellings through the
    * canonical percent-encoding. */
  private[graft] def robotsWildcardFixture(docs: DataFrame): DataFrame = {
    val even = "User-agent: *\nDisallow: /*?sid=\nAllow: /p/*.html$\n" +
      "Disallow: /p/\nDisallow: /dl$\n"
    val odd = "User-agent: *\nDisallow: /a b\nDisallow: /caf%c3%a9\n"
    docs.select((col("doc_id") % 2).as("k")).distinct()
      .select(concat(lit("wild"), col("k").cast("string"),
          lit(".example")).as("host"),
        when(col("k") === 0, lit(even)).otherwise(lit(odd)).as("robots_txt"))
  }

  /** Per-host robots policies for `url_frontier_next`, covering every
    * host class the link fixture's outlinks land on: site hosts block
    * /squote and declare a 2s delay, the cdn blocks /lib2/ with a
    * 0.5s delay, ext1 blocks /UP (the uppercase absolute anchor's
    * canonical path), and the other ext hosts allow everything with
    * no delay (→ the scheduler's 1s default). */
  private[graft] def frontierNextRobotsFixture(docs: DataFrame): DataFrame = {
    val sites = docs.select((col("doc_id") % 5).as("k")).distinct()
      .select(concat(lit("site"), col("k").cast("string"),
          lit(".example")).as("host"),
        lit("User-agent: *\nDisallow: /squote\nCrawl-delay: 2\n")
          .as("robots_txt"))
    val exts = docs.select((col("doc_id") % 3).as("k")).distinct()
      .select(concat(lit("ext"), col("k").cast("string"),
          lit(".example")).as("host"),
        when(col("k") === 1, lit("User-agent: *\nDisallow: /UP\n"))
          .otherwise(lit("User-agent: *\nAllow: /\n")).as("robots_txt"))
    val cdn = docs.select(lit("cdn.example").as("host"),
      lit("User-agent: *\nDisallow: /lib2/\nCrawl-delay: 0.5\n")
        .as("robots_txt")).distinct()
    sites.union(exts).union(cdn)
  }

  /** Deterministic sentence-segmentation fixture for
    * `text_sentences`: per doc, a paragraph exercising every split
    * rule — plain declarative/exclamation/question sentences, a
    * protected-abbreviation sentence (Dr., Mr., e.g., p.m., Jan.)
    * with a decimal number, a terminator inside closing quotes (even
    * docs), an ellipsis followed by a CAPITAL (every 3rd doc — must
    * split) and by a lowercase continuation (every 5th — must NOT),
    * and an unterminated tail. The oracle re-mints the page and
    * restates the whole split pipeline in SQL. */
  private[graft] def sentencePageFixture(docs: DataFrame): DataFrame = {
    val w = element_at(split(col("text"), " "), 1)
    val d = col("doc_id")
    docs.select(d.as("doc_id"), concat(
      lit("Intro "), w, lit(" opens. Then two! Three? "),
      lit("Dr. "), w, lit(" met Mr. Jones e.g. at 3.14 p.m. on Jan. 5. "),
      when(d % 2 === 0, lit("Quoted \"End.\" Follows now. "))
        .otherwise(lit("")),
      when(d % 3 === 0, lit("Wait... Then go. ")).otherwise(lit("")),
      when(d % 5 === 0, lit("Ellipsis trails... and continues here. "))
        .otherwise(lit("")),
      lit("Tail without terminator")).as("page"))
  }

  /** Deterministic outlink-page fixture for `url_link_extract` and
    * `url_domain_graph`: per doc, a base URL two directories deep
    * (`https://site<k>.example/a/b/page<p>.html`) and an HTML body
    * carrying one anchor per reference class — absolute, scheme-
    * relative (×2 on even docs, so n_links > n_pages on the cdn
    * edge), root-relative with `&amp;` in the query, `../`, `./`,
    * bare relative, an UPPERCASE absolute (every 9th doc), query-only
    * (even docs), fragment-only (every 3rd), mailto/javascript
    * (dropped; every 6th/7th), an over-popping `../../../` (every
    * 11th), and a single-quoted attribute (every 4th, extracted after
    * the double-quoted ones). The oracle restates every kept
    * (href, resolved) pair closed-form per class. */
  private[graft] def linkPageFixture(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    val k = (d % 5).cast("string")
    val p = (d % 25).cast("string")
    val base = concat(lit("https://site"), k, lit(".example/a/b/page"), p,
      lit(".html"))
    val html = concat(
      lit("<html><body><a href=\"https://ext"), (d % 3).cast("string"),
      lit(".example/abs/"), p, lit("\"><b>Bold</b>  anchor</a>"),
      lit("<a href=\"//cdn.example/lib/"), (d % 4).cast("string"),
      lit("\">y</a>"),
      when(d % 2 === 0, concat(lit("<a href=\"//cdn.example/lib2/"), p,
        lit("\">y2</a>"))).otherwise(lit("")),
      lit("<a href=\"/root/item?id="), p,
      lit("&amp;utm_source=feed\">Q&amp;A link</a>"),
      lit("<a href=\"../up/"), (d % 7).cast("string"), lit("\">u</a>"),
      lit("<a href=\"./same/"), (d % 5).cast("string"), lit("\">s</a>"),
      lit("<a href=\"plain/rel"), (d % 3).cast("string"), lit("\">r</a>"),
      when(d % 9 === 0, lit("<a href=\"HTTPS://EXT1.EXAMPLE/UP\">U</a>"))
        .otherwise(lit("")),
      when(d % 2 === 0, concat(lit("<a href=\"?page="), p, lit("\">q</a>")))
        .otherwise(lit("")),
      when(d % 3 === 0, lit("<a href=\"#frag\">f</a>")).otherwise(lit("")),
      when(d % 6 === 0, lit("<a href=\"mailto:team@example.test\">m</a>"))
        .otherwise(lit("")),
      when(d % 7 === 0, lit("<a href=\"javascript:void(0)\">j</a>"))
        .otherwise(lit("")),
      when(d % 11 === 0, concat(lit("<a href=\"../../../deep/"), p,
        lit("\">dd</a>"))).otherwise(lit("")),
      when(d % 4 === 0, concat(lit("<a class='c' href='/squote/"),
        (d % 6).cast("string"), lit("'>sq</a>"))).otherwise(lit("")),
      lit("</body></html>"))
    docs.select(d.as("doc_id"), base.as("base_url"), html.as("html"))
  }

  /** Deterministic exotic-suffix host fixture for `url_exotic_domains`:
    * suffix keyed by doc_id%12 (two-label ccSLDs, bare gTLDs, two
    * THREE-label suffixes, a wildcard ccTLD and a wildcard Japanese
    * city domain, and the exception hosts that override both
    * wildcards), site name by doc_id%7, and a "shop." subdomain on
    * every third doc so deeper hosts occur for every suffix class —
    * including bare-wildcard-suffix hosts that must pass through as
    * themselves. */
  private[graft] def exoticUrlFixture(docs: DataFrame): DataFrame = {
    val suffix = element_at(array(
      lit("com.sg"), lit("co.nz"), lit("com.hk"), lit("k12.ca.us"),
      lit("co.uk"), lit("com"), lit("vic.edu.au"), lit("org"),
      lit("ck"), lit("www.ck"), lit("kawasaki.jp"), lit("city.kawasaki.jp")),
      (col("doc_id") % 12 + 1).cast("int"))
    val host = concat(
      when(col("doc_id") % 3 === 0, lit("shop.")).otherwise(lit("")),
      lit("site"), (col("doc_id") % 7).cast("string"), lit("."), suffix)
    docs.select(col("doc_id"),
      concat(lit("https://"), host, lit("/p/"),
        (col("doc_id") % 11).cast("string")).as("url"))
  }

  /** Deterministic snapshot pair for the incremental-delta queries,
    * derived from the documents table so the oracle can rebuild both
    * sides: OLD = docs not yet crawled removed (doc_id % 13 == 5
    * absent) with %7==0 docs truncated to 40 chars (yesterday's
    * content); NEW = today's crawl (doc_id % 17 == 3 dropped). */
  private[graft] def snapshotPair(docs: DataFrame): (DataFrame, DataFrame) = {
    val old = docs.filter(col("doc_id") % 13 =!= 5)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, substring(col("text"), 1, 40))
          .otherwise(col("text")).as("text"))
    val neu = docs.filter(col("doc_id") % 17 =!= 3)
    (old, neu)
  }
}
