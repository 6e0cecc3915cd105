package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL canonicalization + URL-level dedup — the first stage of every
  * crawl-corpus curation pipeline (the same fetched page typically
  * appears under dozens of raw spellings: scheme/host case, default
  * ports, tracking params, fragments, userinfo, trailing slashes).
  *
  * Everything here is a composition of built-in string/array
  * expressions (regexp_extract / regexp_replace / split / filter /
  * array_sort / concat): whole-stage-codegen'd, no UDFs, and restatable
  * verbatim in the DuckDB oracle. At 100 TB the canonical key is
  * computed in the scan projection and the dedup is one hash
  * aggregation on it — the cheapest possible shape.
  *
  * Deliberate scope choices (documented, not hidden):
  *   - percent-encoding is NOT decoded (decoding %2F etc. can change
  *     path semantics; safe canonicalizers leave it);
  *   - "www." is kept (stripping it merges distinct hosts);
  *   - the registered-domain split uses a small embedded multi-part
  *     suffix list, not the full public-suffix registry (no egress in
  *     this environment); the hook is one set to extend.
  */
object Urls {

  /** Query parameters dropped during canonicalization: click/campaign
    * trackers that never change the fetched content. Matches both
    * `key=value` and bare valueless forms (`?gclid`, `&utm_source`) —
    * the `(=|$)` tail keeps `refresh=1` (prefix of `ref`) intact. */
  val TrackingParamRe = "^(utm_[A-Za-z]+|gclid|fbclid|msclkid|ref|ref_src)(=|$)"

  /** Multi-part public suffixes the registered-domain split must keep
    * three labels for ("bbc.co.uk", not "co.uk") — a static snapshot
    * of the well-known two-label country-code second-level domains
    * (the public-suffix registry's ccSLD core; no egress in this
    * environment, so the snapshot ships embedded). Callers with a
    * fuller or newer registry pass their own seqs to
    * [[registeredDomain]] — the list is data, not logic. */
  val MultiPartSuffixes: Seq[String] = Seq(
    // uk / ie
    "co.uk", "org.uk", "me.uk", "ltd.uk", "plc.uk", "net.uk", "sch.uk",
    "ac.uk", "gov.uk", "nhs.uk", "police.uk",
    // au / nz
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
    "co.nz", "net.nz", "org.nz", "govt.nz", "ac.nz", "school.nz",
    "gen.nz", "geek.nz", "maori.nz", "iwi.nz",
    // jp
    "co.jp", "or.jp", "ne.jp", "ac.jp", "ad.jp", "ed.jp", "go.jp",
    "gr.jp", "lg.jp",
    // sg / hk / tw / cn / kr
    "com.sg", "net.sg", "org.sg", "gov.sg", "edu.sg", "per.sg",
    "com.hk", "net.hk", "org.hk", "gov.hk", "edu.hk", "idv.hk",
    "com.tw", "net.tw", "org.tw", "edu.tw", "gov.tw", "idv.tw",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn",
    "co.kr", "ne.kr", "or.kr", "re.kr", "pe.kr", "go.kr", "ac.kr",
    "hs.kr", "ms.kr", "es.kr", "sc.kr",
    // south & southeast asia
    "co.in", "net.in", "org.in", "firm.in", "gen.in", "ind.in",
    "ac.in", "edu.in", "res.in", "gov.in", "nic.in",
    "co.th", "net.th", "or.th", "ac.th", "go.th", "in.th", "mi.th",
    "co.id", "net.id", "or.id", "web.id", "ac.id", "sch.id", "go.id",
    "my.id", "biz.id",
    "com.my", "net.my", "org.my", "gov.my", "edu.my", "name.my",
    "com.ph", "net.ph", "org.ph", "gov.ph", "edu.ph", "ngo.ph",
    "com.vn", "net.vn", "org.vn", "edu.vn", "gov.vn", "int.vn",
    "ac.vn", "biz.vn", "info.vn", "name.vn", "pro.vn",
    "com.pk", "net.pk", "org.pk", "gov.pk", "edu.pk", "biz.pk", "web.pk",
    "com.bd", "net.bd", "org.bd", "gov.bd", "edu.bd", "ac.bd",
    "com.lk", "net.lk", "org.lk", "gov.lk", "edu.lk", "ac.lk", "sch.lk",
    "com.np", "net.np", "org.np", "gov.np", "edu.np",
    // middle east / africa
    "co.il", "net.il", "org.il", "ac.il", "gov.il", "muni.il", "k12.il",
    "com.sa", "net.sa", "org.sa", "gov.sa", "edu.sa", "med.sa", "sch.sa",
    "co.ae", "net.ae", "org.ae", "gov.ae", "ac.ae", "sch.ae",
    "com.eg", "net.eg", "org.eg", "gov.eg", "edu.eg", "sci.eg",
    "com.tr", "net.tr", "org.tr", "gov.tr", "edu.tr", "k12.tr",
    "av.tr", "bel.tr", "biz.tr",
    "co.za", "net.za", "org.za", "gov.za", "edu.za", "ac.za", "web.za",
    "com.ng", "net.ng", "org.ng", "gov.ng", "edu.ng", "sch.ng",
    "co.ke", "or.ke", "ne.ke", "go.ke", "ac.ke", "sc.ke", "info.ke",
    // europe
    "com.ru", "net.ru", "org.ru", "edu.ru",
    "com.ua", "net.ua", "org.ua", "edu.ua", "gov.ua", "in.ua",
    "com.pl", "net.pl", "org.pl", "edu.pl", "gov.pl", "info.pl",
    "biz.pl", "waw.pl",
    "com.es", "nom.es", "org.es", "gob.es", "edu.es",
    "asso.fr", "com.fr", "gouv.fr", "nom.fr", "prd.fr", "tm.fr",
    "com.gr", "edu.gr", "net.gr", "org.gr", "gov.gr",
    "com.pt", "edu.pt", "gov.pt", "int.pt", "net.pt", "org.pt", "publ.pt",
    "com.ro", "org.ro", "tm.ro", "nom.ro", "info.ro", "firm.ro", "store.ro",
    "co.hu", "info.hu", "org.hu", "priv.hu", "sport.hu", "tm.hu",
    "co.at", "or.at", "ac.at", "gv.at", "priv.at",
    // canada (provincial)
    "ab.ca", "bc.ca", "mb.ca", "nb.ca", "nf.ca", "nl.ca", "ns.ca",
    "nt.ca", "nu.ca", "on.ca", "pe.ca", "qc.ca", "sk.ca", "yt.ca", "gc.ca",
    // latin america
    "com.br", "net.br", "org.br", "gov.br", "edu.br", "mil.br", "art.br",
    "com.mx", "net.mx", "org.mx", "gob.mx", "edu.mx",
    "com.ar", "net.ar", "org.ar", "gob.ar", "edu.ar", "int.ar", "mil.ar",
    "com.co", "net.co", "org.co", "edu.co", "gov.co", "mil.co", "nom.co",
    "com.pe", "net.pe", "org.pe", "edu.pe", "gob.pe", "mil.pe", "nom.pe",
    "gob.cl", "gov.cl", "co.cl", "mil.cl",
    "com.ec", "net.ec", "org.ec", "edu.ec", "gob.ec", "fin.ec", "med.ec",
    "com.uy", "net.uy", "org.uy", "edu.uy", "gub.uy", "mil.uy",
    "com.py", "net.py", "org.py", "edu.py", "gov.py", "coop.py",
    "com.bo", "net.bo", "org.bo", "edu.bo", "gob.bo", "int.bo", "web.bo",
    "co.cr", "ac.cr", "ed.cr", "fi.cr", "go.cr", "or.cr", "sa.cr",
    "com.do", "net.do", "org.do", "edu.do", "gob.do", "gov.do", "web.do",
    "com.gt", "net.gt", "org.gt", "edu.gt", "gob.gt", "ind.gt",
    "com.ve", "net.ve", "org.ve", "co.ve", "edu.ve", "gob.ve", "info.ve",
    "web.ve",
    // US state suffixes (delegated; cities/agencies register UNDER them)
    "ca.us", "ny.us", "tx.us", "fl.us", "wa.us", "il.us", "pa.us",
    "oh.us", "mi.us", "ga.us", "nc.us", "nj.us", "va.us", "ma.us",
    "az.us", "co.us", "or.us", "mn.us", "wi.us", "md.us")

  /** Three-label public suffixes (registered domains keep FOUR
    * labels): US K-12 / community-college / library trees plus the
    * Australian state education domains — same static-snapshot
    * contract as [[MultiPartSuffixes]]. */
  val ThreePartSuffixes: Seq[String] = {
    val usStates = Seq("ca", "ny", "tx", "fl", "wa", "il", "pa", "oh",
      "mi", "ga", "nc", "nj", "va", "ma", "az", "co", "or", "mn", "wi", "md")
    usStates.flatMap(s => Seq(s"k12.$s.us", s"cc.$s.us", s"lib.$s.us")) ++
      Seq("act.edu.au", "nsw.edu.au", "nt.edu.au", "qld.edu.au",
        "sa.edu.au", "tas.edu.au", "vic.edu.au", "wa.edu.au")
  }

  /** Canonical form of a raw URL:
    * scheme+host lowercased (schemeless input assumed http), userinfo
    * and fragment dropped, trailing host dot and default ports (http
    * :80 / https :443) stripped, path ""/trailing-slash normalised to
    * "/" / slash-stripped, query params sorted with tracking params
    * removed. Pure built-in expressions end to end. */
  def canonicalize(u: Column): Column = {
    val t = trim(u)
    val noFrag = regexp_replace(t, "#.*", "")
    val scheme0 = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.\\-]*)://", 1))
    val scheme = when(scheme0 === "", "http").otherwise(scheme0)
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.\\-]*://", "")
    val hostport = regexp_replace(regexp_extract(rest, "^([^/?]*)", 1), "^.*@", "")
    val host = regexp_replace(lower(regexp_extract(hostport, "^([^:]*)", 1)), "\\.$", "")
    val port = regexp_extract(hostport, ":([0-9]+)$", 1)
    val portSuffix = when(
      port === "" ||
        (scheme === "http" && port === "80") ||
        (scheme === "https" && port === "443"),
      lit("")).otherwise(concat(lit(":"), port))
    val pathq = regexp_replace(rest, "^[^/?]*", "")
    val path0 = regexp_replace(regexp_extract(pathq, "^([^?]*)", 1), "/+$", "")
    val path = when(path0 === "", "/").otherwise(path0)
    val query = regexp_extract(pathq, "\\?(.*)", 1)
    val params = filter(split(query, "&"),
      p => p =!= "" && !p.rlike(TrackingParamRe))
    val qcanon = array_join(array_sort(params), "&")
    concat(scheme, lit("://"), host, portSuffix, path,
      when(qcanon === "", lit("")).otherwise(concat(lit("?"), qcanon)))
  }

  /** Lowercased host of a raw URL (same parse as [[canonicalize]]). */
  def hostOf(u: Column): Column = {
    val noFrag = regexp_replace(trim(u), "#.*", "")
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.\\-]*://", "")
    val hostport = regexp_replace(regexp_extract(rest, "^([^/?]*)", 1), "^.*@", "")
    regexp_replace(lower(regexp_extract(hostport, "^([^:]*)", 1)), "\\.$", "")
  }

  /** Wildcard public-suffix bases — the public-suffix algorithm's
    * `*.<base>` rules: EVERY single label directly under the base is
    * itself a public suffix (under `*.ck`, `foo.ck` is a suffix and
    * registrations live at `site.foo.ck`). Same static-snapshot,
    * caller-loadable contract as [[MultiPartSuffixes]]: the ccTLDs
    * that delegate all second-level labels, plus the Japanese city
    * domains whose wards register at the fourth label. */
  val WildcardSuffixBases: Seq[String] = Seq(
    "bd", "ck", "er", "jm", "kh", "mm", "np", "pg",
    "kawasaki.jp", "kitakyushu.jp", "kobe.jp", "nagoya.jp",
    "sapporo.jp", "sendai.jp", "yokohama.jp")

  /** Exception rules — the algorithm's `!<host>` entries: hosts
    * registrable DESPITE a matching wildcard (the registry itself
    * operates the site). `www.ck` is the canonical example; each
    * Japanese city wildcard carries a `!city.<city>.jp` twin. */
  val SuffixExceptions: Seq[String] = Seq(
    "www.ck",
    "city.kawasaki.jp", "city.kitakyushu.jp", "city.kobe.jp",
    "city.nagoya.jp", "city.sapporo.jp", "city.sendai.jp",
    "city.yokohama.jp")

  /** Registered domain of a host under the public-suffix algorithm:
    * exception rules first (the host tail matching `!<host>` IS the
    * registered domain), then wildcard bases (`*.<base>` pushes the
    * registration boundary one label deeper than the base), then the
    * plain three- and two-label suffix sets (co.uk, k12.ca.us →
    * registered domains keep one more label), else the last two
    * labels. Hosts with fewer labels than the matched rule needs,
    * and hosts that ARE a bare suffix, pass through at the
    * next-shorter rule. Suffix sets default to the embedded snapshot
    * and are caller-loadable (read your registry table, `collect`
    * it — suffix sets are a few hundred rows — and pass the seqs);
    * all four ride in the plan as expression data — one codegen'd
    * hash-lookup call per host, no join. */
  def registeredDomain(host: Column): Column =
    registeredDomain(host, MultiPartSuffixes, ThreePartSuffixes,
      WildcardSuffixBases, SuffixExceptions)

  def registeredDomain(host: Column, twoLabelSuffixes: Seq[String],
      threeLabelSuffixes: Seq[String]): Column =
    registeredDomain(host, twoLabelSuffixes, threeLabelSuffixes, Nil, Nil)

  /** Fused single-call form — the suffix sets ride in the expression
    * as one hashed reference object
    * ([[graft.functions.SuffixTables]]). The Column formulation below
    * ([[registeredDomainColumns]]) is the restatable-in-SQL
    * reference twin; UrlsSpec pins the two against each other across
    * every suffix class. The fusion matters beyond speed: two Column
    * trees inlined into a fused agg/filter stage (as in
    * [[domainLinkGraph]]) multiply under CollapseProject until Janino
    * rejects the stage and it falls back to interpreted mode. */
  def registeredDomain(host: Column, twoLabelSuffixes: Seq[String],
      threeLabelSuffixes: Seq[String], wildcardBases: Seq[String],
      exceptions: Seq[String]): Column =
    graft.functions.GraftFunctions.registeredDomain(host,
      twoLabelSuffixes, threeLabelSuffixes, wildcardBases, exceptions)

  def registeredDomainColumns(host: Column, twoLabelSuffixes: Seq[String],
      threeLabelSuffixes: Seq[String], wildcardBases: Seq[String],
      exceptions: Seq[String]): Column = {
    val one = regexp_extract(host, "([^.]+)$", 1)
    val two = regexp_extract(host, "([^.]+\\.[^.]+)$", 1)
    val three = regexp_extract(host, "([^.]+\\.[^.]+\\.[^.]+)$", 1)
    val four = regexp_extract(host, "([^.]+\\.[^.]+\\.[^.]+\\.[^.]+)$", 1)
    val exc2 = exceptions.filter(_.count(_ == '.') == 1)
    val exc3 = exceptions.filter(_.count(_ == '.') == 2)
    val wild1 = wildcardBases.filterNot(_.contains('.'))
    val wild2 = wildcardBases.filter(_.count(_ == '.') == 1)
    def in(c: Column, xs: Seq[String]): Column =
      if (xs.isEmpty) lit(false) else c.isin(xs: _*)
    when(in(three, exc3), three)
      .when(in(two, exc2), two)
      .when(in(two, wild2),
        when(four =!= "", four).when(three =!= "", three).otherwise(host))
      .when(in(one, wild1),
        when(three =!= "", three).otherwise(host))
      .when(in(three, threeLabelSuffixes) && four =!= "", four)
      .when(in(two, twoLabelSuffixes) && three =!= "", three)
      .otherwise(when(two === "", host).otherwise(two))
  }

  /** Path PLUS query of a raw URL ("/" when both empty; fragment
    * excluded) — the string robots.txt rules match against: the
    * common `Disallow: /[star]?sid=` idiom targets query strings, so
    * the gate must see them. */
  def pathQueryOf(u: Column): Column = {
    val noFrag = regexp_replace(trim(u), "#.*", "")
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.\\-]*://", "")
    val pathq = regexp_replace(rest, "^[^/?]*", "")
    when(pathq === "", "/")
      .when(pathq.startsWith("?"), concat(lit("/"), pathq))
      .otherwise(pathq)
  }

  /** Robots.txt gate over a URL table — RFC 9309 evaluation: per URL,
    * among the crawler's rules matching the path(+query), the rule
    * with the most octets wins and Allow wins specificity ties; a URL
    * with no matching rule (or a host with no robots.txt) is allowed.
    * Rules support the RFC's `*` wildcard and `$` end anchor (the
    * kernel compiles each rule to a SQL LIKE pattern), and BOTH sides
    * compare in canonical percent-encoding
    * ([[graft.functions.Kernels.percentNormalizeStr]]) — `/a%20b`
    * matches a `Disallow: /a b` rule and `%2f`/`%2F` spellings
    * agree. Robots host keys lowercase to match [[hostOf]].
    *
    * 100 TB shape: the robots corpus parses ONCE through the
    * [[graft.functions.GraftFunctions.robotsRules]] kernel into a
    * per-host rule table (O(hosts × rules) rows — tiny next to the
    * URL table), the match is a host-keyed equi-join (never a
    * cartesian; the LIKE comparison happens inside the joined row),
    * and the winner is one max_by aggregation keyed by the URL id.
    * Returns (doc_id, url, host, path, allowed) — `path` is the
    * percent-normalized path+query the rules were matched against. */
  def robotsVerdicts(urls: DataFrame, url: Column, id: Column,
      robots: DataFrame, robotsHost: Column, robotsTxt: Column,
      agent: String): DataFrame = {
    val rules = robots.select(lower(robotsHost).as("host"),
        explode(graft.functions.GraftFunctions.robotsRules(robotsTxt, agent))
          .as("r"))
      .select(col("host"), col("r.like").as("__like"),
        col("r.rank").as("__rank"), col("r.allow").as("__allow"))
    val u = urls.select(id.as("doc_id"), url.as("url"),
      hostOf(url).as("host"),
      graft.functions.GraftFunctions.percentNormalize(pathQueryOf(url))
        .as("path"))
    val best = u.join(rules, Seq("host"))
      .filter(like(col("path"), col("__like")))
      .groupBy("doc_id")
      .agg(max_by(col("__allow"),
        struct(col("__rank").as("l"), col("__allow").as("a")))
        .as("__best"))
    u.join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("url"), col("host"), col("path"),
        coalesce(col("__best"), lit(true)).as("allowed"))
  }

  /** [[robotsVerdicts]] with ZERO aggregation on the URL side: the
    * per-host rule set rides as ONE array column (rules parse once on
    * the tiny robots table, then merge per host so duplicate host
    * rows can't fan out the join), the URL side joins it host-keyed,
    * and the RFC's most-octets/allow-wins winner is an array `filter`
    * + `aggregate` fold evaluated IN the projection. Same output
    * contract as [[robotsVerdicts]] — including on duplicate-host
    * robots inputs (RobotsSpec pins the two against each other on the
    * wildcard matrix and the duplicate-host case).
    *
    * 100 TB shape: the rule table broadcasts, so the gate is
    * shuffle-FREE — strictly better than the max_by formulation when
    * rules fit an executor (they do: O(hosts × rules) next to the URL
    * table). Aggregation-free also makes it legal on a STREAMING url
    * frame (stream-static equi-join + projection, append mode, no
    * watermark needed) — the streaming frontier gate uses exactly
    * this path. */
  def robotsVerdictsMapSide(urls: DataFrame, url: Column, id: Column,
      robots: DataFrame, robotsHost: Column, robotsTxt: Column,
      agent: String): DataFrame = {
    // per-host pre-aggregation (tiny side only — the URL side stays
    // shuffle-free): duplicate host rows would otherwise multiply
    // URL rows through the join, each verdict seeing only one row's
    // rules, where the max_by formulation merges them. The fold
    // winner below is order-independent (max rank, allow wins ties),
    // so collect_list's nondeterministic order is harmless.
    val rules = robots.select(lower(robotsHost).as("host"),
        graft.functions.GraftFunctions.robotsRules(robotsTxt, agent)
          .as("__rules"))
      .groupBy("host")
      .agg(flatten(collect_list(col("__rules"))).as("__rules"))
    val u = urls.select(id.as("doc_id"), url.as("url"),
      hostOf(url).as("host"),
      graft.functions.GraftFunctions.percentNormalize(pathQueryOf(url))
        .as("path"))
    val joined = u.join(broadcast(rules), Seq("host"), "left")
    val matched = filter(col("__rules"),
      r => like(col("path"), r.getField("like")))
    val init = struct(lit(-1).as("rank"), lit(true).as("allow"))
    val best = aggregate(matched, init, (acc, r) =>
      when(r.getField("rank") > acc.getField("rank") ||
          (r.getField("rank") === acc.getField("rank") && r.getField("allow")),
        struct(r.getField("rank").as("rank"), r.getField("allow").as("allow")))
        .otherwise(acc))
    joined.select(col("doc_id"), col("url"), col("host"), col("path"),
      coalesce(best.getField("allow"), lit(true)).as("allowed"))
  }

  /** Per-host effective Crawl-delay for one crawler — the de-facto
    * politeness extension riding along with the RFC 9309 rules (group
    * selection is identical to [[robotsVerdicts]]; among the
    * applicable groups the LAST valid directive wins, config-file
    * style; see [[graft.functions.Kernels.robotsCrawlDelay]]).
    * Returns (host, crawl_delay DOUBLE) with NULL when the applicable
    * group(s) carry no valid directive — callers coalesce to their
    * politeness default. One codegen'd kernel call per robots row in
    * the scan projection: no shuffle, no join. */
  def crawlDelay(robots: DataFrame, robotsHost: Column, robotsTxt: Column,
      agent: String): DataFrame =
    robots.select(lower(robotsHost).as("host"),
        graft.functions.GraftFunctions.robotsCrawlDelay(robotsTxt, agent)
          .as("__d"))
      .select(col("host"),
        when(col("__d") < 0, lit(null).cast("double"))
          .otherwise(col("__d")).as("crawl_delay"))

  /** `Sitemap:` directives of a robots.txt — the crawl-frontier feed
    * that rides along with the access rules (RFC 9309 §2.3 treats it
    * as an "other record"; it is group-independent, so a plain
    * line-anchored extraction is the correct parse). Pure built-in
    * expression, restated verbatim in the oracle. */
  def sitemapUrls(robotsTxt: Column): Column =
    regexp_extract_all(robotsTxt,
      lit("(?im)^\\s*sitemap\\s*:\\s*(\\S+)\\s*$"), lit(1))

  /** Sitemap-document frontier: parse fetched sitemap payloads
    * (`<urlset>` / `<sitemapindex>`, optionally gzipped `.xml.gz`)
    * into one (kind, loc, lastmod) row per entry — the crawl-frontier
    * table the robots `Sitemap:` directives feed ([[sitemapUrls]]
    * finds the documents; this reads them; `<sitemapindex>` entries
    * are the next fetch round of the two-tier protocol). One
    * codegen'd kernel call per payload in the scan projection plus an
    * explode: no shuffle, no join. Compose with [[robotsVerdicts]]
    * over `loc` for a politeness-gated frontier. */
  def sitemapFrontier(sitemaps: DataFrame, id: Column, body: Column): DataFrame =
    sitemaps.select(id.as("doc_id"),
        explode(graft.functions.GraftFunctions.sitemapEntries(body)).as("e"))
      .select(col("doc_id"), col("e.kind").as("kind"), col("e.loc").as("loc"),
        col("e.lastmod").as("lastmod"))

  /** Schemes a crawl frontier never fetches — anchors carrying them
    * are dropped by [[extractHrefs]]. */
  val NonFetchableSchemeRe = "(?i)^(mailto|javascript|tel|data|ftp):"

  /** HTML entity decode for attribute values — the five named
    * entities HTML requires plus the numeric apostrophe (`&amp;` is
    * endemic in real hrefs because `&` must be escaped in attribute
    * values). `&amp;` decodes LAST so `&amp;lt;` yields the literal
    * `&lt;` per the spec's single-pass contract. Pure nested
    * `replace` — restates verbatim in the oracle. */
  def htmlUnescapeAttr(c: Column): Column = {
    val steps = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&amp;" -> "&")
    steps.foldLeft(c) { case (acc, (from, to)) =>
      regexp_replace(acc, java.util.regex.Pattern.quote(from), to)
    }
  }

  /** Href values of a page's `<a>` anchors, in document order —
    * double-quoted values first, then single-quoted (the attribute
    * grammar keeps each alternative inside its own tag because
    * `[^>]*` cannot cross the tag close). Values are trimmed,
    * entity-decoded ([[htmlUnescapeAttr]]) and filtered of empties
    * and non-fetchable schemes ([[NonFetchableSchemeRe]]). Scope
    * (documented): quoted attribute values only — the legacy
    * unquoted form is vanishingly rare in post-2005 markup and
    * ambiguous to cut without a real tokenizer.
    *
    * 100 TB shape: two `regexp_extract_all` + array ops in the scan
    * projection — no shuffle, no UDF, whole-stage codegen. */
  def extractHrefs(html: Column): Column = {
    val dq = regexp_extract_all(html,
      lit("(?i)<a[^>]*\\shref\\s*=\\s*\"([^\"]*)\""), lit(1))
    val sq = regexp_extract_all(html,
      lit("(?i)<a[^>]*\\shref\\s*=\\s*'([^']*)'"), lit(1))
    filter(transform(concat(dq, sq), h => htmlUnescapeAttr(trim(h))),
      h => h =!= "" && !h.rlike(NonFetchableSchemeRe))
  }

  /** Anchor pair grammars for [[anchorTexts]]: the [[extractHrefs]]
    * attribute rules plus the tag close and a non-greedy inner-text
    * capture to the first `</a>` (dotall — anchor text spans lines;
    * nested anchors are invalid HTML, so first-close is the correct
    * cut). */
  val AnchorDqRe: String =
    "(?is)<a[^>]*\\shref\\s*=\\s*\"([^\"]*)\"[^>]*>(.*?)</a>"
  val AnchorSqRe: String =
    "(?is)<a[^>]*\\shref\\s*=\\s*'([^']*)'[^>]*>(.*?)</a>"

  /** (href, text) pairs of a page's anchors, document order within
    * each quote style — the anchor-TEXT half is the classic search /
    * crawl-prioritization signal (anchor text describes the TARGET
    * page, written by someone other than its author). Hrefs get the
    * [[extractHrefs]] treatment (trim, entity decode, non-fetchable
    * schemes drop the pair); inner text strips nested tags to
    * spaces, entity-decodes, and collapses whitespace. Same
    * scan-projection shape as [[extractHrefs]]: two regex sweeps,
    * array ops, no UDF. */
  def anchorTexts(html: Column): Column = {
    def visible(t: Column): Column =
      trim(regexp_replace(
        htmlUnescapeAttr(regexp_replace(t, "<[^>]*>", " ")), "\\s+", " "))
    def pairs(re: String): Column = zip_with(
      regexp_extract_all(html, lit(re), lit(1)),
      regexp_extract_all(html, lit(re), lit(2)),
      (h, t) => struct(htmlUnescapeAttr(trim(h)).as("href"),
        visible(t).as("text")))
    filter(concat(pairs(AnchorDqRe), pairs(AnchorSqRe)),
      p => p.getField("href") =!= "" &&
        !p.getField("href").rlike(NonFetchableSchemeRe))
  }

  /** RFC 3986 §5.2.4 `remove_dot_segments`, bounded: `/./` and
    * trailing `/.` collapse, then up to `depth` passes fold
    * `/<seg>/../` pairs (a pass resolves every non-overlapping pair
    * left-to-right, so nesting deeper than `depth` levels — beyond
    * anything a real page emits — is left partially folded rather
    * than looping), then `..` segments stranded at the root drop per
    * the RFC. Bounded-pass regex instead of a per-char stack keeps
    * the whole resolution inside whole-stage codegen and restates
    * verbatim in the oracle. */
  def removeDotSegments(p: Column, depth: Int = 4): Column = {
    val noDot = regexp_replace(
      regexp_replace(regexp_replace(p, "/\\./", "/"), "/\\./", "/"),
      "/\\.$", "/")
    val folded = (1 to depth).foldLeft(noDot) { (acc, _) =>
      regexp_replace(regexp_replace(acc, "/[^/]+/\\.\\./", "/"),
        "/[^/]+/\\.\\.$", "/")
    }
    regexp_replace(folded, "^(/\\.\\.)+(/|$)", "/")
  }

  /** RFC 3986 §5.2 relative-reference resolution against an absolute
    * http(s) base: absolute refs pass through, `//` adopts the base
    * scheme, `/` the base origin, `?` the base path, empty/fragment-
    * only refs resolve to the base (sans fragment, consistent with
    * [[canonicalize]] dropping fragments), and relative paths merge
    * with the base directory then normalize via
    * [[removeDotSegments]]. Pure built-in expressions.
    *
    * This is the restatable-in-SQL reference formulation; the hot
    * path ([[pageLinks]], [[domainLinkGraph]]) uses the fused kernel
    * [[graft.functions.Kernels.resolveRefStr]] — the Column tree
    * inlined once per array element blows generated methods past
    * Janino's limits and drops the stage to interpreted mode.
    * UrlResolveSpec pins the two formulations against each other
    * across every reference class. */
  def resolveRef(base: Column, ref: Column): Column = {
    val rNoFrag = regexp_replace(trim(ref), "#.*", "")
    val scheme = lower(regexp_extract(base,
      "^([A-Za-z][A-Za-z0-9+.\\-]*)://", 1))
    val auth = regexp_extract(base,
      "^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)", 1)
    val bPath0 = regexp_extract(base,
      "^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)", 1)
    val bPath = when(bPath0 === "", lit("/")).otherwise(bPath0)
    val bQuery = regexp_extract(base, "^[^?#]*(\\?[^#]*)", 1)
    val rPath = regexp_extract(rNoFrag, "^([^?]*)", 1)
    val rQuery = regexp_extract(rNoFrag, "^[^?]*(\\?.*)", 1)
    val origin = concat(scheme, lit("://"), auth)
    val baseDir = regexp_replace(bPath, "[^/]*$", "")
    val merged = concat(baseDir, rPath)
    when(rNoFrag === "", concat(origin, bPath, bQuery))
      .when(rNoFrag.rlike("^[A-Za-z][A-Za-z0-9+.\\-]*:"), rNoFrag)
      .when(rNoFrag.startsWith("//"), concat(scheme, lit(":"), rNoFrag))
      .when(rNoFrag.startsWith("/"),
        concat(origin, removeDotSegments(rPath), rQuery))
      .when(rNoFrag.startsWith("?"), concat(origin, bPath, rNoFrag))
      .otherwise(concat(origin, removeDotSegments(merged), rQuery))
  }

  /** Outlink table of a fetched-page corpus: one row per anchor —
    * (doc_id, ord, href, resolved), `resolved` the absolute URL per
    * [[resolveRef]]. `ord` follows extractHrefs' contract: document
    * order WITHIN each quote style, all double-quoted hrefs before
    * single-quoted ones (not global document order on pages mixing
    * quote styles). Extraction and resolution both
    * run in the scan projection; the only wide op is the `explode`,
    * which is row-local. The natural feed for [[domainLinkGraph]]
    * and, composed with [[robotsVerdicts]], the next crawl round's
    * gated frontier. */
  def pageLinks(pages: DataFrame, id: Column, baseUrl: Column,
      html: Column): DataFrame =
    pages.select(id.as("doc_id"), baseUrl.as("base_url"),
        posexplode(extractHrefs(html)))
      .select(col("doc_id"), col("pos").as("ord"), col("col").as("href"),
        graft.functions.GraftFunctions.resolveRef(col("base_url"), col("col"))
          .as("resolved"))

  /** Domain-level link graph: registered-domain edges aggregated from
    * the pages' outlinks — (src_domain, dst_domain, n_links,
    * n_pages). Internal (same-domain) edges drop by default: the
    * consumers (domain PageRank, link-farm reciprocity) want the
    * inter-site topology, and internal nav would dominate every
    * weight.
    *
    * Two-level aggregate by design: links first collapse per
    * (doc, src_host, dst_host) — the partial agg absorbs a page's
    * repeated links map-side — and only the collapsed table (bounded
    * by pages × distinct outlink hosts, orders of magnitude smaller
    * than raw links at 100 TB) pays the [[registeredDomain]] suffix
    * tables and the distinct-page count. This also keeps each
    * codegen stage small: the two InSet-heavy registeredDomain
    * expansions inlined into the raw-link hash-agg blow the
    * generated method past Janino's limits. */
  def domainLinkGraph(pages: DataFrame, id: Column, baseUrl: Column,
      html: Column, includeInternal: Boolean = false): DataFrame = {
    val perDoc = pages.select(id.as("doc_id"), hostOf(baseUrl).as("src_host"),
        explode(transform(extractHrefs(html),
          h => graft.functions.GraftFunctions.resolveRef(baseUrl, h)))
          .as("resolved"))
      .select(col("doc_id"), col("src_host"),
        hostOf(col("resolved")).as("dst_host"))
      .groupBy("doc_id", "src_host", "dst_host")
      .agg(count(lit(1)).as("n_links"))
    val dom = perDoc.select(col("doc_id"),
      registeredDomain(col("src_host")).as("src_domain"),
      registeredDomain(col("dst_host")).as("dst_domain"), col("n_links"))
    val edges = if (includeInternal) dom
      else dom.filter(col("src_domain") =!= col("dst_domain"))
    edges.groupBy("src_domain", "dst_domain")
      .agg(sum(col("n_links")).as("n_links"),
        countDistinct(col("doc_id")).as("n_pages"))
  }

  /** Politeness-aware fetch schedule: assign every frontier URL a
    * fetch offset honoring its host's effective Crawl-delay
    * ([[crawlDelay]]; `defaultDelay` when the host declares none) —
    * the i-th URL of a host (0-based, URL order) fetches at
    * `i * delay` seconds. Returns (host, url, crawl_delay, slot,
    * fetch_at_s).
    *
    * 100 TB shape: ONE shuffle on `host` serves both the delay join
    * and the per-host window (the join's hash partitioning is exactly
    * the window's partition key); the per-host sequencing is inherent
    * to politeness — a host's fetch order is a serial contract, so a
    * window, not a global sort, is the right primitive, and hot hosts
    * are bounded by the very crawl budget the schedule enforces. */
  def crawlSchedule(frontier: DataFrame, url: Column,
      robots: DataFrame, robotsHost: Column, robotsTxt: Column,
      agent: String, defaultDelay: Double = 1.0): DataFrame = {
    val delays = crawlDelay(robots, robotsHost, robotsTxt, agent)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("host").orderBy("url")
    frontier.select(url.as("url"), hostOf(url).as("host"))
      .join(delays, Seq("host"), "left")
      .withColumn("slot", row_number().over(w) - 1)
      .select(col("host"), col("url"), col("crawl_delay"), col("slot"),
        (col("slot").cast("double") *
          coalesce(col("crawl_delay"), lit(defaultDelay))).as("fetch_at_s"))
  }

  /** URL-level dedup: group raw URLs by canonical form, keep the
    * lowest id (first fetch wins under a monotone fetch id), count the
    * raw spellings merged. One hash aggregation on the canonical key —
    * fully distributed, no skew risk beyond genuinely hot pages. */
  def dedupByCanonical(df: DataFrame, url: Column, id: Column): DataFrame =
    df.select(canonicalize(url).as("url_canonical"), id.as("doc_id"),
        url.as("__raw"))
      .groupBy("url_canonical")
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_raw"),
        countDistinct(col("__raw")).as("n_spellings"))
}
