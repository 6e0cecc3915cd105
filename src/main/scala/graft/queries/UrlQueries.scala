package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops._
import graft.queries.GraphQueries.{prQuant, prStep}
import graft.queries.Oracle.Sql
/** URL and crawl-frontier operators: canonicalization, registered
  * domains, robots.txt gates, sitemaps, outlinks and politeness. */
object UrlQueries {

  import graft.SparkEntry._

  /** DuckDB CTE chain canonicalizing `src.url` → `canon(doc_id, url,
    * chost, url_canonical)` — the 1:1 SQL twin of
    * [[graft.ops.Urls.canonicalize]], shared by both url_* oracles. */
  private def urlCanonCteSql(src: String): String =
    s"""s1 AS (SELECT doc_id, url,
           regexp_replace(trim(url), '#.*', '') AS nofrag FROM $src),
         s2 AS (SELECT *,
           lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS scheme0,
           regexp_replace(nofrag, '^[A-Za-z][A-Za-z0-9+.\\-]*://', '') AS rest FROM s1),
         s3 AS (SELECT *,
           CASE WHEN scheme0 = '' THEN 'http' ELSE scheme0 END AS scheme,
           regexp_replace(regexp_extract(rest, '^([^/?]*)', 1), '^.*@', '') AS hostport,
           regexp_replace(rest, '^[^/?]*', '') AS pathq FROM s2),
         s4 AS (SELECT *,
           regexp_replace(lower(regexp_extract(hostport, '^([^:]*)', 1)), '\\.$$', '') AS chost,
           regexp_extract(hostport, ':([0-9]+)$$', 1) AS port,
           regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/+$$', '') AS path0,
           regexp_extract(pathq, '\\?(.*)', 1) AS query FROM s3),
         s5 AS (SELECT *, coalesce(array_to_string(list_sort(list_filter(
             string_split(query, '&'),
             x -> x <> '' AND NOT regexp_matches(x,
               '^(utm_[A-Za-z]+|gclid|fbclid|msclkid|ref|ref_src)(=|$$)'))), '&'), '') AS qc
           FROM s4),
         canon AS (SELECT doc_id, url, chost,
           scheme || '://' || chost ||
           (CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                  OR (scheme = 'https' AND port = '443')
             THEN '' ELSE ':' || port END) ||
           (CASE WHEN path0 = '' THEN '/' ELSE path0 END) ||
           (CASE WHEN qc = '' THEN '' ELSE '?' || qc END) AS url_canonical
           FROM s5)"""

  /** DuckDB CASE computing [[graft.ops.Urls.registeredDomain]] of host
    * expression `h` — the IN lists are generated from the SAME Scala
    * constants the engine compiles into its InSet, so the embedded
    * suffix snapshot can never drift between engine and oracle. */
  private def registeredDomainSql(h: String): String = {
    def lst(xs: Seq[String]) = xs.map("'" + _ + "'").mkString(",")
    val two = lst(graft.ops.Urls.MultiPartSuffixes)
    val three = lst(graft.ops.Urls.ThreePartSuffixes)
    val exc2 = lst(graft.ops.Urls.SuffixExceptions.filter(_.count(_ == '.') == 1))
    val exc3 = lst(graft.ops.Urls.SuffixExceptions.filter(_.count(_ == '.') == 2))
    val wild1 = lst(graft.ops.Urls.WildcardSuffixBases.filterNot(_.contains('.')))
    val wild2 = lst(graft.ops.Urls.WildcardSuffixBases.filter(_.count(_ == '.') == 1))
    val t1 = s"regexp_extract($h, '([^.]+)$$', 1)"
    val t2 = s"regexp_extract($h, '([^.]+\\.[^.]+)$$', 1)"
    val t3 = s"regexp_extract($h, '([^.]+\\.[^.]+\\.[^.]+)$$', 1)"
    val t4 = s"regexp_extract($h, '([^.]+\\.[^.]+\\.[^.]+\\.[^.]+)$$', 1)"
    s"""CASE WHEN $t3 IN ($exc3) THEN $t3
            WHEN $t2 IN ($exc2) THEN $t2
            WHEN $t2 IN ($wild2)
            THEN (CASE WHEN $t4 <> '' THEN $t4
                       WHEN $t3 <> '' THEN $t3 ELSE $h END)
            WHEN $t1 IN ($wild1)
            THEN (CASE WHEN $t3 <> '' THEN $t3 ELSE $h END)
            WHEN $t3 IN ($three) AND $t4 <> '' THEN $t4
            WHEN $t2 IN ($two) AND $t3 <> '' THEN $t3
            WHEN $t2 = '' THEN $h
            ELSE $t2 END"""
  }

  val rows: Seq[Query] = Seq(

    // domain-level quality gate (the FineWeb/RefinedWeb "block whole
    // domains" stage): per-doc Gopher verdicts rolled up by
    // registered domain (www hosts merge with their apex, co.uk
    // suffixes keep three labels), domains kept when the pass rate
    // clears the floor. One scan computes url + page + verdict, one
    // partial-agg'd groupBy on domain — at 100 TB the map side
    // reduces each partition to |domains| rows before the shuffle
    Query("url_domain_quality", (s, dir) => {
      val docs = table(s, dir, "documents")
      val gridded = floor(col("n_pass").cast(DoubleType) / col("n_docs")
        * lit(1e6) + lit(0.5)) / lit(1e6)
      // mint url+page ONCE per row below the exchange: the verdict
      // projection references its input many times, and letting
      // CollapseProject inline the minting trees into every reference
      // multiplies the per-row cost ~20× (measured 17.7s → sub-second
      // with the barrier). The exchange doubles as the spreadById
      // shape that parallelizes the interpreted projection.
      docs.select(col("doc_id"), urlFixtureCol.as("url"),
          linePageFixtureCol.as("page"))
        .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
        .select(
          Urls.registeredDomain(Urls.hostOf(Urls.canonicalize(col("url"))))
            .as("domain"),
          TextOps.gopherKeep(col("page")).cast(IntegerType).as("k"))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_docs"), sum(col("k")).cast("long").as("n_pass"))
        .select(col("domain"), col("n_docs"), col("n_pass"),
          gridded.as("pass_rate"),
          (gridded >= 0.25).cast(IntegerType).as("domain_keep"))
        .orderBy("domain")
    }, Sql(
      (s"""WITH $linePageFixtureSql,
         $gopherRulesCteSql,
         raw AS (
           SELECT doc_id,
             (CASE WHEN doc_id % 25 < 5 THEN 'www.' ELSE '' END)
               || 'site' || CAST(doc_id % 5 AS VARCHAR)
               || (CASE WHEN (doc_id % 5) % 2 = 0 THEN '.co.uk' ELSE '.com' END) AS host,
             CAST(doc_id % 25 AS VARCHAR) AS p
           FROM documents),
         minted AS (
           SELECT doc_id, CASE doc_id % 4
             WHEN 0 THEN 'http://' || upper(host) || '/page/' || p || '/'
             WHEN 1 THEN 'HTTP://' || host || ':80/page/' || p || '?utm_source=feed'
             WHEN 2 THEN 'http://user@' || host || '/page/' || p || '#section'
             ELSE host || '/page/' || p END AS url
           FROM raw),
         ${urlCanonCteSql("minted")},
         dom AS (SELECT doc_id, ${registeredDomainSql("chost")} AS domain
           FROM canon),
         j AS (SELECT dom.domain, gr.gopher_keep AS k
           FROM dom JOIN gr USING (doc_id)),
         a AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(k) AS BIGINT) AS n_pass FROM j GROUP BY domain)
         SELECT domain, n_docs, n_pass,
           floor(CAST(n_pass AS DOUBLE) / n_docs * CAST(1000000 AS DOUBLE)
             + CAST(0.5 AS DOUBLE)) / CAST(1000000 AS DOUBLE) AS pass_rate,
           CAST((floor(CAST(n_pass AS DOUBLE) / n_docs
               * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE))
             / CAST(1000000 AS DOUBLE) >= CAST(0.25 AS DOUBLE)) AS INT)
             AS domain_keep
         FROM a ORDER BY domain"""))),

    // robots.txt gate: per-host policies parsed by the kernel from
    // REAL robots.txt text (groups, comments, the graftbot group
    // shadowing the Disallow-everything '*' group on even hosts),
    // URLs gated by RFC 9309 longest-match/allow-wins evaluation;
    // the oracle states the expected verdict per (host-parity, path
    // variant) in closed form — group selection, longest-prefix
    // override (Allow /private/ok beats Disallow /private), and the
    // star fallback each decide some rows
    Query("url_robots_filter", (s, dir) => {
      val docs = table(s, dir, "documents")
      val robots = robotsFixture(docs)
      val m = (col("doc_id") % 7).cast("string")
      val path = when(col("doc_id") % 4 === 0, concat(lit("/page/"), m))
        .when(col("doc_id") % 4 === 1, concat(lit("/private/doc"), m))
        .when(col("doc_id") % 4 === 2, concat(lit("/private/ok/doc"), m))
        .otherwise(concat(lit("/tmp/x"), m))
      val urls = docs.select(col("doc_id"),
        concat(lit("http://site"), (col("doc_id") % 5).cast("string"),
          lit(".example"), path).as("url"))
      Urls.robotsVerdicts(urls, col("url"), col("doc_id"), robots,
        col("host"), col("robots_txt"), "graftbot")
        .select(col("doc_id"), col("host"), col("path"),
          col("allowed").cast(IntegerType).as("allowed"))
        .orderBy("doc_id")
    }, Sql(
      """SELECT doc_id,
           'site' || CAST(doc_id % 5 AS VARCHAR) || '.example' AS host,
           CASE doc_id % 4
             WHEN 0 THEN '/page/' || CAST(doc_id % 7 AS VARCHAR)
             WHEN 1 THEN '/private/doc' || CAST(doc_id % 7 AS VARCHAR)
             WHEN 2 THEN '/private/ok/doc' || CAST(doc_id % 7 AS VARCHAR)
             ELSE '/tmp/x' || CAST(doc_id % 7 AS VARCHAR) END AS path,
           CAST(CASE WHEN (doc_id % 5) % 2 = 0
             THEN CASE WHEN doc_id % 4 = 1 THEN 0 ELSE 1 END
             ELSE CASE WHEN doc_id % 4 = 3 THEN 0 ELSE 1 END
           END AS INTEGER) AS allowed
         FROM documents ORDER BY doc_id""")),

    // Sitemap: directives extracted from the same robots corpus — the
    // crawl-frontier feed riding along with the access rules (group-
    // independent per RFC 9309, so a line-anchored extraction is the
    // whole parse); case/whitespace variants in the fixture pin the
    // (?im) anchoring
    Query("url_sitemaps", (s, dir) => {
      val robots = robotsFixture(table(s, dir, "documents"))
      robots.select(col("host"),
          explode(Urls.sitemapUrls(col("robots_txt"))).as("sitemap_url"))
        .orderBy("host", "sitemap_url")
    }, Sql(
      """WITH hosts AS (SELECT DISTINCT doc_id % 5 AS k FROM documents),
         sm AS (SELECT 'site' || CAST(k AS VARCHAR) || '.example' AS host,
           CASE WHEN k % 2 = 0
             THEN ['https://cdn.example/sitemap-even.xml']
             ELSE ['https://cdn.example/sitemap-odd.xml',
                   'https://cdn.example/sitemap-odd-2.xml'] END AS urls
           FROM hosts)
         SELECT host, u.sitemap_url
         FROM sm, unnest(sm.urls) AS u(sitemap_url)
         ORDER BY host, sitemap_url""")),

    // sitemap DOCUMENT parse (the files the robots `Sitemap:`
    // directives point at): <urlset> and <sitemapindex> payloads,
    // every third one REALLY gzipped (.xml.gz), locs trimmed and
    // entity-decoded, optional lastmod NULL when absent; the oracle
    // restates every entry closed-form from the fixture arithmetic —
    // a full round-trip proof of gunzip + tag walk + unescape
    Query("url_sitemap_entries", (s, dir) => {
      val mk = udf((id: Long) => Ingest.sitemapFixture(id))
      val payloads = table(s, dir, "documents")
        .select(col("doc_id"), mk(col("doc_id")).as("body"))
      Urls.sitemapFrontier(payloads, col("doc_id"), col("body"))
        .orderBy("doc_id", "loc")
    }, Sql(
      """WITH idx AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
         u AS (SELECT doc_id FROM documents WHERE doc_id % 5 <> 0),
         e AS (
           SELECT doc_id, 'sitemap' AS kind,
             'https://s' || CAST(doc_id % 7 AS VARCHAR) ||
               '.example/sitemap-a.xml.gz' AS loc,
             '2026-0' || CAST(doc_id % 9 + 1 AS VARCHAR) || '-15' AS lastmod
           FROM idx
           UNION ALL
           SELECT doc_id, 'sitemap',
             'https://s' || CAST(doc_id % 7 AS VARCHAR) ||
               '.example/sitemap-b.xml.gz', NULL
           FROM idx
           UNION ALL
           SELECT doc_id, 'url',
             'https://w' || CAST(doc_id % 7 AS VARCHAR) || '.example/p/' ||
               CAST(doc_id % 11 AS VARCHAR),
             '2026-0' || CAST(doc_id % 9 + 1 AS VARCHAR) || '-15'
           FROM u
           UNION ALL
           SELECT doc_id, 'url',
             'https://w' || CAST(doc_id % 7 AS VARCHAR) || '.example/p/' ||
               CAST(doc_id % 11 AS VARCHAR) || '/sub?a=1&b=2', NULL
           FROM u)
         SELECT doc_id, kind, loc, lastmod FROM e ORDER BY doc_id, loc""")),

    // END-TO-END crawl frontier: sitemap documents parse into candidate
    // URLs, then the robots gate (with WILDCARD rules) decides each —
    // the composition a crawler actually runs. Even hosts disallow the
    // deep /sub pages with a mid-rule wildcard; odd hosts disallow
    // everything, re-Allow /p/* by specificity, then out-rank that
    // Allow with a longer /p/*/sub* Disallow — both mechanics must
    // produce the same closed-form verdicts
    Query("url_frontier_gated", (s, dir) => {
      val mk = udf((id: Long) => Ingest.sitemapFixture(id))
      val docs = table(s, dir, "documents")
      val payloads = docs.select(col("doc_id"), mk(col("doc_id")).as("body"))
      val frontier = Urls.sitemapFrontier(payloads, col("doc_id"), col("body"))
        .filter(col("kind") === "url")
        .select((col("doc_id") * 2 +
          when(col("loc").contains("/sub"), 1).otherwise(0)).as("rid"),
          col("loc"))
      val robots = frontierRobotsFixture(docs)
      Urls.robotsVerdicts(frontier, col("loc"), col("rid"), robots,
        col("host"), col("robots_txt"), "graftbot")
        .select(col("doc_id").as("row_id"), col("host"), col("path"),
          col("allowed").cast(IntegerType).as("allowed"))
        .orderBy("row_id")
    }, Sql(
      """WITH u AS (SELECT doc_id, doc_id % 7 AS k, doc_id % 11 AS m
           FROM documents WHERE doc_id % 5 <> 0),
         e AS (
           SELECT 2 * doc_id AS row_id,
             'w' || CAST(k AS VARCHAR) || '.example' AS host,
             '/p/' || CAST(m AS VARCHAR) AS path, 1 AS allowed
           FROM u
           UNION ALL
           SELECT 2 * doc_id + 1,
             'w' || CAST(k AS VARCHAR) || '.example',
             '/p/' || CAST(m AS VARCHAR) || '/sub?a=1&b=2', 0
           FROM u)
         SELECT row_id, host, path, CAST(allowed AS INTEGER) AS allowed
         FROM e ORDER BY row_id""")),

    // per-host Crawl-delay (the de-facto politeness extension): group
    // selection identical to the robots gate, LAST valid value wins
    // within the applicable group, invalid values skip, a named group
    // without a delay SHADOWS the star group's delay; the oracle
    // states each policy shape's outcome in closed form
    Query("url_crawl_delay", (s, dir) => {
      val robots = crawlDelayFixture(table(s, dir, "documents"))
      Urls.crawlDelay(robots, col("host"), col("robots_txt"), "graftbot")
        .orderBy("host")
    }, Sql(
      """WITH hosts AS (SELECT DISTINCT doc_id % 4 AS k FROM documents)
         SELECT 'delay' || CAST(k AS VARCHAR) || '.example' AS host,
           CAST(CASE k WHEN 0 THEN 2.5 WHEN 1 THEN 0.5 ELSE NULL END
             AS DOUBLE) AS crawl_delay
         FROM hosts ORDER BY host""")),

    // RFC 9309 special characters ('*' wildcard, '$' end anchor) and
    // canonical percent-encoding in the robots gate: a query-string
    // Disallow, an anchored wildcard Allow overriding a directory
    // Disallow by specificity rank, a bare anchored rule failing open
    // on a longer path, and literal-space / UTF-8-escape rules
    // matching raw URL spellings; the oracle states the verdict per
    // (host-parity, path-variant) pair in closed form
    Query("url_robots_wildcards", (s, dir) => {
      val docs = table(s, dir, "documents")
      val robots = robotsWildcardFixture(docs)
      val m = col("doc_id") % 7
      val path = element_at(array(
        lit("/p/x.html"), lit("/p/x.htmlz"), lit("/q?sid=5"),
        lit("/dl"), lit("/dl/x"), lit("/a b"), lit("/café")),
        (m + 1).cast("int"))
      val urls = docs.select(col("doc_id"),
        concat(lit("https://wild"), (col("doc_id") % 2).cast("string"),
          lit(".example"), path).as("url"))
      Urls.robotsVerdicts(urls, col("url"), col("doc_id"), robots,
        col("host"), col("robots_txt"), "graftbot")
        .select(col("doc_id"), col("host"), col("path"),
          col("allowed").cast(IntegerType).as("allowed"))
        .orderBy("doc_id")
    }, Sql(
      """SELECT doc_id,
           'wild' || CAST(doc_id % 2 AS VARCHAR) || '.example' AS host,
           CASE doc_id % 7
             WHEN 0 THEN '/p/x.html' WHEN 1 THEN '/p/x.htmlz'
             WHEN 2 THEN '/q?sid=5' WHEN 3 THEN '/dl'
             WHEN 4 THEN '/dl/x' WHEN 5 THEN '/a%20b'
             ELSE '/caf%C3%A9' END AS path,
           CAST(CASE WHEN doc_id % 2 = 0
             THEN CASE WHEN doc_id % 7 IN (1, 2, 3) THEN 0 ELSE 1 END
             ELSE CASE WHEN doc_id % 7 IN (5, 6) THEN 0 ELSE 1 END
           END AS INTEGER) AS allowed
         FROM documents ORDER BY doc_id""")),

    // the ZERO-SHUFFLE robots gate: the same wildcard matrix decided
    // by the map-side formulation (per-host rule ARRAY broadcast,
    // winner picked by an array fold in the projection — no max_by
    // aggregation, no shuffle); same closed-form verdicts as
    // url_robots_wildcards, so the two formulations are oracle-pinned
    // to each other as well as spec-pinned
    Query("url_robots_mapside", (s, dir) => {
      val docs = table(s, dir, "documents")
      val robots = robotsWildcardFixture(docs)
      val m = col("doc_id") % 7
      val path = element_at(array(
        lit("/p/x.html"), lit("/p/x.htmlz"), lit("/q?sid=5"),
        lit("/dl"), lit("/dl/x"), lit("/a b"), lit("/café")),
        (m + 1).cast("int"))
      val urls = docs.select(col("doc_id"),
        concat(lit("https://wild"), (col("doc_id") % 2).cast("string"),
          lit(".example"), path).as("url"))
      Urls.robotsVerdictsMapSide(urls, col("url"), col("doc_id"), robots,
        col("host"), col("robots_txt"), "graftbot")
        .select(col("doc_id"), col("host"), col("path"),
          col("allowed").cast(IntegerType).as("allowed"))
        .orderBy("doc_id")
    }, Sql(
      """SELECT doc_id,
           'wild' || CAST(doc_id % 2 AS VARCHAR) || '.example' AS host,
           CASE doc_id % 7
             WHEN 0 THEN '/p/x.html' WHEN 1 THEN '/p/x.htmlz'
             WHEN 2 THEN '/q?sid=5' WHEN 3 THEN '/dl'
             WHEN 4 THEN '/dl/x' WHEN 5 THEN '/a%20b'
             ELSE '/caf%C3%A9' END AS path,
           CAST(CASE WHEN doc_id % 2 = 0
             THEN CASE WHEN doc_id % 7 IN (1, 2, 3) THEN 0 ELSE 1 END
             ELSE CASE WHEN doc_id % 7 IN (5, 6) THEN 0 ELSE 1 END
           END AS INTEGER) AS allowed
         FROM documents ORDER BY doc_id""")),

    // outlink extraction + RFC 3986 resolution: every anchor class a
    // real page carries — absolute (incl. an uppercase spelling kept
    // verbatim), scheme-relative, root-relative with an entity-encoded
    // query, dotted relatives (../, ./, bare, and an over-popping
    // ../../../ past the root), query-only, fragment-only (→ the base
    // itself), single-quoted attributes, and dropped mailto:/
    // javascript: schemes; the oracle states every (href, resolved)
    // pair in closed form per anchor class
    Query("url_link_extract", (s, dir) => {
      val pages = linkPageFixture(table(s, dir, "documents"))
      Urls.pageLinks(pages, col("doc_id"), col("base_url"), col("html"))
        .orderBy("doc_id", "ord")
    }, Sql(
      """WITH m AS (SELECT doc_id,
           CAST(doc_id % 5 AS VARCHAR) AS k, CAST(doc_id % 25 AS VARCHAR) AS p,
           CAST(doc_id % 3 AS VARCHAR) AS m3, CAST(doc_id % 4 AS VARCHAR) AS m4,
           CAST(doc_id % 5 AS VARCHAR) AS m5, CAST(doc_id % 6 AS VARCHAR) AS m6,
           CAST(doc_id % 7 AS VARCHAR) AS m7
         FROM documents),
         b AS (SELECT *, 'https://site' || k || '.example' AS origin,
           'https://site' || k || '.example/a/b/page' || p || '.html' AS base
         FROM m),
         le AS (SELECT doc_id, list_filter([
           {'c': true, 'h': 'https://ext' || m3 || '.example/abs/' || p,
              'r': 'https://ext' || m3 || '.example/abs/' || p},
           {'c': true, 'h': '//cdn.example/lib/' || m4,
              'r': 'https://cdn.example/lib/' || m4},
           {'c': doc_id % 2 = 0, 'h': '//cdn.example/lib2/' || p,
              'r': 'https://cdn.example/lib2/' || p},
           {'c': true, 'h': '/root/item?id=' || p || '&utm_source=feed',
              'r': origin || '/root/item?id=' || p || '&utm_source=feed'},
           {'c': true, 'h': '../up/' || m7, 'r': origin || '/a/up/' || m7},
           {'c': true, 'h': './same/' || m5,
              'r': origin || '/a/b/same/' || m5},
           {'c': true, 'h': 'plain/rel' || m3,
              'r': origin || '/a/b/plain/rel' || m3},
           {'c': doc_id % 9 = 0, 'h': 'HTTPS://EXT1.EXAMPLE/UP',
              'r': 'HTTPS://EXT1.EXAMPLE/UP'},
           {'c': doc_id % 2 = 0, 'h': '?page=' || p,
              'r': base || '?page=' || p},
           {'c': doc_id % 3 = 0, 'h': '#frag', 'r': base},
           {'c': doc_id % 11 = 0, 'h': '../../../deep/' || p,
              'r': origin || '/deep/' || p},
           {'c': doc_id % 4 = 0, 'h': '/squote/' || m6,
              'r': origin || '/squote/' || m6}
           ], e -> e.c) AS es FROM b),
         x AS (SELECT doc_id, es,
           unnest(generate_series(1, len(es))) AS i FROM le)
         SELECT doc_id, CAST(i - 1 AS INT) AS ord,
           es[i].h AS href, es[i].r AS resolved
         FROM x ORDER BY doc_id, ord""")),

    // domain-level link graph over the same pages: registered-domain
    // edges with internal links dropped, n_links vs n_pages separating
    // link multiplicity from page reach; the uppercase absolute anchor
    // must land on the same lowercased domain as its lowercase twin
    Query("url_domain_graph", (s, dir) => {
      val pages = linkPageFixture(table(s, dir, "documents"))
      Urls.domainLinkGraph(pages, col("doc_id"), col("base_url"),
          col("html"))
        .orderBy("src_domain", "dst_domain")
    }, Sql(
      """WITH m AS (SELECT doc_id,
           'site' || CAST(doc_id % 5 AS VARCHAR) || '.example' AS src,
           CAST(doc_id % 3 AS VARCHAR) AS m3 FROM documents),
         d AS (SELECT doc_id, src,
           unnest(list_transform(list_filter([
             {'c': true, 'd': 'ext' || m3 || '.example'},
             {'c': true, 'd': 'cdn.example'},
             {'c': doc_id % 2 = 0, 'd': 'cdn.example'},
             {'c': doc_id % 9 = 0, 'd': 'ext1.example'}
           ], e -> e.c), e -> e.d)) AS dst FROM m)
         SELECT src AS src_domain, dst AS dst_domain,
           CAST(count(*) AS BIGINT) AS n_links,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_pages
         FROM d GROUP BY 1, 2 ORDER BY 1, 2""")),

    // politeness-aware fetch schedule: per-host URL slots spaced by
    // the effective Crawl-delay (composed from the url_crawl_delay
    // policy fixture: last-valid-wins 2.5s, star-group 0.5s, and two
    // NULL-delay shapes falling back to the 1.0s default)
    Query("url_crawl_schedule", (s, dir) => {
      val docs = table(s, dir, "documents")
      val frontier = docs.select(concat(lit("https://delay"),
        (col("doc_id") % 4).cast("string"), lit(".example/p/"),
        lpad(col("doc_id").cast("string"), 8, "0")).as("url"))
      val robots = crawlDelayFixture(docs)
      Urls.crawlSchedule(frontier, col("url"), robots,
          col("host"), col("robots_txt"), "graftbot")
        .orderBy("host", "url")
    }, Sql(
      """WITH u AS (SELECT
           'delay' || CAST(doc_id % 4 AS VARCHAR) || '.example' AS host,
           'https://delay' || CAST(doc_id % 4 AS VARCHAR) || '.example/p/'
             || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS url,
           doc_id % 4 AS k
         FROM documents),
         s AS (SELECT host, url,
           CAST(CASE k WHEN 0 THEN 2.5 WHEN 1 THEN 0.5 ELSE NULL END
             AS DOUBLE) AS crawl_delay,
           CAST(row_number() OVER (PARTITION BY host ORDER BY url) - 1
             AS INT) AS slot
         FROM u)
         SELECT host, url, crawl_delay, slot,
           CAST(slot AS DOUBLE) * coalesce(crawl_delay, CAST(1.0 AS DOUBLE))
             AS fetch_at_s
         FROM s ORDER BY host, url""")),

    // anchor (href, TEXT) pairs — the target-description signal a
    // search index and a crawl prioritizer both consume: inner text
    // strips nested tags (<b>Bold</b>), entity-decodes (Q&amp;A),
    // collapses whitespace; non-fetchable schemes drop the whole
    // pair; the oracle states every surviving pair in closed form
    Query("url_anchor_text", (s, dir) => {
      val pages = linkPageFixture(table(s, dir, "documents"))
      pages.select(col("doc_id"), posexplode(Urls.anchorTexts(col("html"))))
        .select(col("doc_id"), col("pos").as("ord"),
          col("col.href").as("href"), col("col.text").as("anchor_text"))
        .orderBy("doc_id", "ord")
    }, Sql(
      """WITH m AS (SELECT doc_id,
           CAST(doc_id % 25 AS VARCHAR) AS p,
           CAST(doc_id % 3 AS VARCHAR) AS m3, CAST(doc_id % 4 AS VARCHAR) AS m4,
           CAST(doc_id % 5 AS VARCHAR) AS m5, CAST(doc_id % 6 AS VARCHAR) AS m6,
           CAST(doc_id % 7 AS VARCHAR) AS m7
         FROM documents),
         le AS (SELECT doc_id, list_filter([
           {'c': true, 'h': 'https://ext' || m3 || '.example/abs/' || p,
              't': 'Bold anchor'},
           {'c': true, 'h': '//cdn.example/lib/' || m4, 't': 'y'},
           {'c': doc_id % 2 = 0, 'h': '//cdn.example/lib2/' || p, 't': 'y2'},
           {'c': true, 'h': '/root/item?id=' || p || '&utm_source=feed',
              't': 'Q&A link'},
           {'c': true, 'h': '../up/' || m7, 't': 'u'},
           {'c': true, 'h': './same/' || m5, 't': 's'},
           {'c': true, 'h': 'plain/rel' || m3, 't': 'r'},
           {'c': doc_id % 9 = 0, 'h': 'HTTPS://EXT1.EXAMPLE/UP', 't': 'U'},
           {'c': doc_id % 2 = 0, 'h': '?page=' || p, 't': 'q'},
           {'c': doc_id % 3 = 0, 'h': '#frag', 't': 'f'},
           {'c': doc_id % 11 = 0, 'h': '../../../deep/' || p, 't': 'dd'},
           {'c': doc_id % 4 = 0, 'h': '/squote/' || m6, 't': 'sq'}
           ], e -> e.c) AS es FROM m),
         x AS (SELECT doc_id, es,
           unnest(generate_series(1, len(es))) AS i FROM le)
         SELECT doc_id, CAST(i - 1 AS INT) AS ord,
           es[i].h AS href, es[i].t AS anchor_text
         FROM x ORDER BY doc_id, ord""")),

    // domain-level PageRank: the domain link graph feeds the generic
    // PageRank with md5-portable node ids (domains are strings; the
    // id is the same first-8-nibble md5 value the doc link graph
    // uses, so the oracle rebuilds identical keys) — the authority
    // score a crawl prioritizer ranks frontier hosts by
    Query("url_domain_pagerank", (s, dir) => {
      val docs = table(s, dir, "documents")
      val pages = linkPageFixture(docs)
      val g = Urls.domainLinkGraph(pages, col("doc_id"), col("base_url"),
        col("html")).transform(Layout.pin(_))
      def mdId(c: Column): Column =
        conv(substring(md5(c), 1, 8), 16, 10).cast("long")
      val nodes = g.select(col("src_domain").as("domain"))
        .union(g.select(col("dst_domain").as("domain"))).distinct()
        .select(col("domain"), mdId(col("domain")).as("node"))
        .transform(Layout.pin(_))
      val edges = g.select(mdId(col("src_domain")).as("src"),
        mdId(col("dst_domain")).as("dst"))
      val n = nodes.count()
      Graph.pageRank(edges, nodes, col("node"), iters = 3)
        .join(nodes, Seq("node"))
        .select(col("domain"),
          (floor(col("rank") * lit(n.toDouble) * lit(1e6) + lit(0.5)) /
            lit(1e6)).as("rank_norm"))
        .orderBy("domain")
    }, Sql(
      s"""WITH m AS (SELECT doc_id,
           'site' || CAST(doc_id % 5 AS VARCHAR) || '.example' AS src,
           CAST(doc_id % 3 AS VARCHAR) AS m3 FROM documents),
         dd AS (SELECT doc_id, src,
           unnest(list_transform(list_filter([
             {'c': true, 'd': 'ext' || m3 || '.example'},
             {'c': true, 'd': 'cdn.example'},
             {'c': doc_id % 2 = 0, 'd': 'cdn.example'},
             {'c': doc_id % 9 = 0, 'd': 'ext1.example'}
           ], x -> x.c), x -> x.d)) AS dst FROM m),
         eg AS (SELECT DISTINCT src AS sd, dst AS dmn FROM dd),
         nd0 AS (SELECT sd AS domain FROM eg UNION SELECT dmn FROM eg),
         nodes AS (SELECT domain,
           ${hexValSql("md5(domain)", 8)} AS node FROM nd0),
         nn AS (SELECT count(*) AS nb, CAST(count(*) AS DOUBLE) AS nd
           FROM nodes),
         e AS (SELECT ns.node AS src, nt.node AS dst FROM eg
           JOIN nodes ns ON eg.sd = ns.domain
           JOIN nodes nt ON eg.dmn = nt.domain),
         deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS d FROM e GROUP BY 1),
         r0 AS (SELECT node, ${prQuant("CAST(1.0 AS DOUBLE) / nn.nd")} AS r
             FROM nodes CROSS JOIN nn),
         d1 AS (SELECT coalesce(sum(r), 0) AS dang FROM r0
                LEFT JOIN deg ON r0.node = deg.src WHERE deg.d IS NULL),
         c1 AS (SELECT e.dst AS node, sum(${prQuant("r0.r / deg.d")}) AS c
                FROM e JOIN deg USING (src) JOIN r0 ON r0.node = e.src GROUP BY 1),
         r1 AS (SELECT r0.node, ${prQuant(prStep("c1", "d1"))} AS r
             FROM r0 LEFT JOIN c1 USING (node) CROSS JOIN d1 CROSS JOIN nn),
         d2 AS (SELECT coalesce(sum(r), 0) AS dang FROM r1
                LEFT JOIN deg ON r1.node = deg.src WHERE deg.d IS NULL),
         c2 AS (SELECT e.dst AS node, sum(${prQuant("r1.r / deg.d")}) AS c
                FROM e JOIN deg USING (src) JOIN r1 ON r1.node = e.src GROUP BY 1),
         r2 AS (SELECT r1.node, ${prQuant(prStep("c2", "d2"))} AS r
             FROM r1 LEFT JOIN c2 USING (node) CROSS JOIN d2 CROSS JOIN nn),
         d3 AS (SELECT coalesce(sum(r), 0) AS dang FROM r2
                LEFT JOIN deg ON r2.node = deg.src WHERE deg.d IS NULL),
         c3 AS (SELECT e.dst AS node, sum(${prQuant("r2.r / deg.d")}) AS c
                FROM e JOIN deg USING (src) JOIN r2 ON r2.node = e.src GROUP BY 1),
         r3 AS (SELECT r2.node, ${prQuant(prStep("c3", "d3"))} AS r
             FROM r2 LEFT JOIN c3 USING (node) CROSS JOIN d3 CROSS JOIN nn)
         SELECT nodes.domain,
           floor(r3.r * nn.nd * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE))
             / CAST(1000000 AS DOUBLE) AS rank_norm
         FROM r3 JOIN nodes USING (node) CROSS JOIN nn ORDER BY domain""")),

    // the FULL crawl loop, composed end to end: extract outlinks from
    // fetched pages, resolve, canonicalize (tracking params drop,
    // uppercase spellings fold), dedup, anti-join the already-crawled
    // set, gate through per-host robots rules, and emit a politeness-
    // spaced fetch schedule — the query a crawler runs to produce its
    // next round. The oracle states the surviving frontier closed-form
    // per anchor class (blocked /squote, /lib2/, /UP and the crawled
    // bases all absent) with the delay/window restated
    Query("url_frontier_next", (s, dir) => {
      val docs = table(s, dir, "documents")
      val pages = linkPageFixture(docs)
      val links = Urls.pageLinks(pages, col("doc_id"), col("base_url"),
        col("html"))
      val cand = links.select(Urls.canonicalize(col("resolved")).as("url"))
        .distinct()
      val crawled = pages.select(Urls.canonicalize(col("base_url")).as("url"))
      val fresh = cand.join(crawled, Seq("url"), "left_anti")
      val robots = frontierNextRobotsFixture(docs)
      val gated = Urls.robotsVerdicts(fresh, col("url"), col("url"), robots,
          col("host"), col("robots_txt"), "graftbot")
        .filter(col("allowed")).select(col("url"))
      Urls.crawlSchedule(gated, col("url"), robots,
          col("host"), col("robots_txt"), "graftbot")
        .orderBy("host", "url")
    }, Sql(
      """WITH m AS (SELECT doc_id, CAST(doc_id % 5 AS VARCHAR) AS k,
           CAST(doc_id % 25 AS VARCHAR) AS p, CAST(doc_id % 3 AS VARCHAR) AS m3,
           CAST(doc_id % 4 AS VARCHAR) AS m4, CAST(doc_id % 5 AS VARCHAR) AS m5,
           CAST(doc_id % 7 AS VARCHAR) AS m7 FROM documents),
         b AS (SELECT *, 'https://site' || k || '.example' AS origin FROM m),
         c0 AS (SELECT unnest(list_transform(list_filter([
           {'c': true, 'u': 'https://ext' || m3 || '.example/abs/' || p},
           {'c': true, 'u': 'https://cdn.example/lib/' || m4},
           {'c': true, 'u': origin || '/root/item?id=' || p},
           {'c': true, 'u': origin || '/a/up/' || m7},
           {'c': true, 'u': origin || '/a/b/same/' || m5},
           {'c': true, 'u': origin || '/a/b/plain/rel' || m3},
           {'c': doc_id % 2 = 0,
              'u': origin || '/a/b/page' || p || '.html?page=' || p},
           {'c': doc_id % 11 = 0, 'u': origin || '/deep/' || p}
           ], e -> e.c), e -> e.u)) AS url FROM b),
         c AS (SELECT DISTINCT url FROM c0),
         h AS (SELECT url,
           regexp_extract(url, '^https://([^/]+)', 1) AS host FROM c),
         s AS (SELECT host, url,
           CAST(CASE WHEN host = 'cdn.example' THEN 0.5
             WHEN starts_with(host, 'site') THEN 2.0
             ELSE NULL END AS DOUBLE) AS crawl_delay,
           CAST(row_number() OVER (PARTITION BY host ORDER BY url) - 1
             AS INT) AS slot
           FROM h)
         SELECT host, url, crawl_delay, slot,
           CAST(slot AS DOUBLE) * coalesce(crawl_delay, CAST(1.0 AS DOUBLE))
             AS fetch_at_s
         FROM s ORDER BY host, url""")),

    // URL-level dedup — the first stage of crawl curation. The fixture
    // mints 4 raw SPELLINGS of the same logical page per doc (host
    // case + trailing slash / scheme case + default port + tracking
    // param / userinfo + fragment / schemeless), with the logical page
    // keyed by (doc_id%5 host, doc_id%25 path) so ~20 docs collapse
    // per canonical URL at sf0.01. The oracle restates BOTH the mint
    // and the full canonicalization chain (regexp parse, port/
    // fragment/userinfo strip, tracking-param filter + sort) in
    // DuckDB, so any divergence in the string pipeline fails the hash.
    Query("url_canonical_dedup", (s, dir) => {
      Urls.dedupByCanonical(urlFixture(table(s, dir, "documents")),
          col("url"), col("doc_id"))
        .orderBy("url_canonical")
    }, Sql(
      // full independent restatement of the URL mint AND the
      // canonicalization chain (fragment/userinfo strip, scheme+host
      // lowercase, default-port drop, trailing-slash norm, tracking-param
      // filter + sort) — step CTEs mirror the Column pipeline 1:1
      s"""WITH raw AS (
           SELECT doc_id,
             (CASE WHEN doc_id % 25 < 5 THEN 'www.' ELSE '' END)
               || 'site' || CAST(doc_id % 5 AS VARCHAR)
               || (CASE WHEN (doc_id % 5) % 2 = 0 THEN '.co.uk' ELSE '.com' END) AS host,
             CAST(doc_id % 25 AS VARCHAR) AS p
           FROM documents),
         minted AS (
           SELECT doc_id, CASE doc_id % 4
             WHEN 0 THEN 'http://' || upper(host) || '/page/' || p || '/'
             WHEN 1 THEN 'HTTP://' || host || ':80/page/' || p || '?utm_source=feed'
             WHEN 2 THEN 'http://user@' || host || '/page/' || p || '#section'
             ELSE host || '/page/' || p END AS url
           FROM raw),
         ${urlCanonCteSql("minted")}
         SELECT url_canonical, min(doc_id) AS keep_id,
           CAST(count(*) AS BIGINT) AS n_raw,
           CAST(count(DISTINCT url) AS BIGINT) AS n_spellings
         FROM canon GROUP BY url_canonical ORDER BY url_canonical""")),

    // per-registered-domain rollup over the same fixture: the
    // multi-part-suffix split (site<k>.co.uk stays three labels) and
    // the host parse are what the oracle pins.
    Query("url_host_stats", (s, dir) => {
      val canon = urlFixture(table(s, dir, "documents"))
        .select(col("doc_id"), Urls.canonicalize(col("url")).as("cu"))
      canon.select(col("doc_id"), col("cu"),
          Urls.registeredDomain(Urls.hostOf(col("cu"))).as("domain"))
        .groupBy("domain")
        .agg(countDistinct(col("cu")).as("n_urls"),
          count(lit(1)).as("n_docs"))
        .orderBy("domain")
    }, Sql(
      s"""WITH raw AS (
           SELECT doc_id,
             (CASE WHEN doc_id % 25 < 5 THEN 'www.' ELSE '' END)
               || 'site' || CAST(doc_id % 5 AS VARCHAR)
               || (CASE WHEN (doc_id % 5) % 2 = 0 THEN '.co.uk' ELSE '.com' END) AS host,
             CAST(doc_id % 25 AS VARCHAR) AS p
           FROM documents),
         minted AS (
           SELECT doc_id, CASE doc_id % 4
             WHEN 0 THEN 'http://' || upper(host) || '/page/' || p || '/'
             WHEN 1 THEN 'HTTP://' || host || ':80/page/' || p || '?utm_source=feed'
             WHEN 2 THEN 'http://user@' || host || '/page/' || p || '#section'
             ELSE host || '/page/' || p END AS url
           FROM raw),
         ${urlCanonCteSql("minted")},
         dom AS (SELECT doc_id, url_canonical,
           ${registeredDomainSql("chost")} AS domain
           FROM canon)
         SELECT domain, CAST(count(DISTINCT url_canonical) AS BIGINT) AS n_urls,
           CAST(count(*) AS BIGINT) AS n_docs
         FROM dom GROUP BY domain ORDER BY domain""")),

    // exotic public suffixes: two-label ccSLDs beyond the original
    // 18-entry list (com.sg / co.nz / com.hk) plus THREE-label
    // suffixes (k12.ca.us, vic.edu.au) whose registered domains keep
    // four labels — and 5-label hosts ("shop." prefix) that must
    // still split at the same boundary
    Query("url_exotic_domains", (s, dir) => {
      val f = exoticUrlFixture(table(s, dir, "documents"))
      f.select(Urls.hostOf(col("url")).as("host"))
        .select(col("host"), Urls.registeredDomain(col("host")).as("domain"))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("host")).as("n_hosts"))
        .orderBy("domain")
    }, Sql(
      s"""WITH raw AS (SELECT doc_id,
           (CASE WHEN doc_id % 3 = 0 THEN 'shop.' ELSE '' END)
             || 'site' || CAST(doc_id % 7 AS VARCHAR) || '.'
             || (CASE doc_id % 12 WHEN 0 THEN 'com.sg' WHEN 1 THEN 'co.nz'
                 WHEN 2 THEN 'com.hk' WHEN 3 THEN 'k12.ca.us'
                 WHEN 4 THEN 'co.uk' WHEN 5 THEN 'com'
                 WHEN 6 THEN 'vic.edu.au' WHEN 7 THEN 'org'
                 WHEN 8 THEN 'ck' WHEN 9 THEN 'www.ck'
                 WHEN 10 THEN 'kawasaki.jp'
                 ELSE 'city.kawasaki.jp' END) AS host
           FROM documents),
         d AS (SELECT host, ${registeredDomainSql("host")} AS domain FROM raw)
         SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT host) AS BIGINT) AS n_hosts
         FROM d GROUP BY domain ORDER BY domain""")),
  )
}
