package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops._
import graft.queries.Oracle.{RowsOnly, Sql}
/** Link-graph, packing, layout and ingest operators: PageRank/HITS/
  * k-core over the md5 link graph, sequence packing, z-order keys,
  * charset/HTTP/WARC ingest and snapshot deltas. */
object GraphQueries {

  import graft.SparkEntry._

  /** Shared snapshot CTEs of the three delta oracles. */
  private val snapshotCte: String =
    """o AS (SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN substr(text, 1, 40) ELSE text END AS text
         FROM documents WHERE doc_id % 13 <> 5),
       nw AS (SELECT doc_id, text, n_chars FROM documents WHERE doc_id % 17 <> 3),
       j AS (SELECT coalesce(o.doc_id, nw.doc_id) AS id,
           md5(o.text) AS old_fp, md5(nw.text) AS new_fp
         FROM o FULL OUTER JOIN nw ON o.doc_id = nw.doc_id),
       cls AS (SELECT id,
           CASE WHEN old_fp IS NULL THEN 'added'
                WHEN new_fp IS NULL THEN 'removed'
                WHEN old_fp <> new_fp THEN 'changed'
                ELSE 'unchanged' END AS status, old_fp, new_fp
         FROM j)"""

  /** The 2^-30 dyadic rank quantizer of the PageRank oracle — the SQL
    * twin of `Graph.quant`. */
  private[queries] def prQuant(x: String): String =
    s"floor(($x) * 1073741824.0 + 0.5) / 1073741824.0"

  /** One PageRank update in oracle SQL: base + d·(contrib + dang/N),
    * with the same double literal arithmetic Spark's plan evaluates
    * ((1.0 − 0.85) computed IN double — a DuckDB 0.15 decimal literal
    * is a different double). */
  private[queries] def prStep(c: String, d: String): String =
    s"""(CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.nd
        + CAST(0.85 AS DOUBLE) * (coalesce($c.c, 0) + $d.dang / nn.nd)"""

  /** Shared CTE pair of the graph oracles: `nn` (node count as BIGINT
    * `nb` for the modulus / DOUBLE `nd` for rank arithmetic) and `e`,
    * the portable md5-derived link graph — dst_j = first-8-nibble
    * value of md5("<doc_id>#l<j>") mod N, j = 1..3, self-loops out,
    * parallel edges collapsed; the DuckDB twin of
    * [[graft.ops.Graph.linkGraph]]. */
  private val linkGraphCte: String = {
    val arms = (1 to 3).map { j =>
      s"""SELECT CAST(doc_id AS BIGINT) AS src,
          ${hexValSql(s"md5(CAST(doc_id AS VARCHAR) || '#l$j')", 8)}
            % (SELECT nb FROM nn) AS dst FROM documents"""
    }.mkString("\n           UNION ALL ")
    s"""nn AS (SELECT count(*) AS nb, CAST(count(*) AS DOUBLE) AS nd
             FROM documents),
         e AS (SELECT DISTINCT src, dst FROM (
           $arms) WHERE src <> dst)"""
  }

  val rows: Seq[Query] = Seq(

    // link-graph centrality over the corpus: 3 damped PageRank
    // iterations with exact dangling redistribution, on the portable
    // md5-derived link graph (the crawl-frontier / corpus-inclusion
    // quality prior). Ranks ride Graph's 2^-30 dyadic grid, so the
    // bits are engine-identical and the 6-digit presentation floor
    // has NO boundary luck (ranks are rationals that structurally
    // land on decimal half-boundaries — round() would flip rows)
    Query("graph_pagerank", (s, dir) => {
      val docs = table(s, dir, "documents")
      val n = docs.count()
      val edges = Graph.linkGraph(docs, col("doc_id"), nNodes = n)
      Graph.pageRank(edges, docs, col("doc_id"), iters = 3)
        .select(col("node"),
          (floor(col("rank") * lit(n.toDouble) * lit(1e6) + lit(0.5)) /
            lit(1e6)).as("rank_norm"))
        .orderBy("node")
    }, Sql(
      // quantization contract mirrors Graph.quant: floor(x·2^30 + ½)/2^30
      // on every stored rank and every per-edge term — grid sums are
      // exact doubles, so the two engines agree BIT-exactly and the
      // 6-digit presentation floor is luck-free
      s"""WITH $linkGraphCte,
         deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS d FROM e GROUP BY 1),
         r0 AS (SELECT CAST(doc_id AS BIGINT) AS node,
             ${prQuant("CAST(1.0 AS DOUBLE) / nn.nd")} AS r
             FROM documents CROSS JOIN nn),
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
         SELECT r3.node,
           floor(r3.r * nn.nd * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE))
             / CAST(1000000 AS DOUBLE) AS rank_norm
         FROM r3 CROSS JOIN nn ORDER BY node""")),

    // in/out-degree audit of the same graph (zero-filled from the
    // node table) — the pre-flight skew profile a 100 TB PageRank
    // run reads before picking AQE/salting knobs
    Query("graph_degrees", (s, dir) => {
      val docs = table(s, dir, "documents")
      val edges = Graph.linkGraph(docs, col("doc_id"), nNodes = docs.count())
      Graph.degrees(edges, docs, col("doc_id")).orderBy("node")
    }, Sql(
      s"""WITH $linkGraphCte,
         od AS (SELECT src, count(*) AS c FROM e GROUP BY 1),
         ind AS (SELECT dst, count(*) AS c FROM e GROUP BY 1)
         SELECT CAST(doc_id AS BIGINT) AS node,
           coalesce(od.c, 0) AS out_deg, coalesce(ind.c, 0) AS in_deg
         FROM documents LEFT JOIN od ON doc_id = od.src
         LEFT JOIN ind ON doc_id = ind.dst
         ORDER BY node""")),

    // edge reciprocity: the share of directed links whose reverse
    // also exists — organic link neighborhoods reciprocate, link
    // farms rarely do; one self-semi-join on the flipped key
    Query("graph_reciprocity", (s, dir) => {
      val docs = table(s, dir, "documents")
      val edges = Graph.linkGraph(docs, col("doc_id"), nNodes = docs.count())
        .localCheckpoint(true) // both sides of the semi-join read it
      val recip = edges.join(
        edges.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_semi")
      edges.agg(count(lit(1)).as("n_edges"))
        .crossJoin(recip.agg(count(lit(1)).as("n_reciprocal")))
        .select(col("n_edges"), col("n_reciprocal"),
          (floor(col("n_reciprocal").cast("double") /
            col("n_edges").cast("double") * lit(1e6) + lit(0.5)) / lit(1e6))
            .as("reciprocity"))
    }, Sql(
      s"""WITH $linkGraphCte,
         r AS (SELECT count(*) AS n_reciprocal FROM e
               WHERE EXISTS (SELECT 1 FROM e e2
                 WHERE e2.src = e.dst AND e2.dst = e.src)),
         t AS (SELECT count(*) AS n_edges FROM e)
         SELECT t.n_edges, r.n_reciprocal,
           floor(CAST(r.n_reciprocal AS DOUBLE) / CAST(t.n_edges AS DOUBLE)
             * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE))
             / CAST(1000000 AS DOUBLE) AS reciprocity
         FROM t CROSS JOIN r""")),

    // in-degree distribution of the link graph: the histogram whose
    // tail shape (power-law vs Poisson) decides whether hub salting
    // is worth configuring before a big graph job
    Query("graph_degree_hist", (s, dir) => {
      val docs = table(s, dir, "documents")
      val edges = Graph.linkGraph(docs, col("doc_id"), nNodes = docs.count())
      Graph.degrees(edges, docs, col("doc_id"))
        .groupBy(col("in_deg")).agg(count(lit(1)).as("n_nodes"))
        .presentSorted("in_deg")
    }, Sql(
      s"""WITH $linkGraphCte,
         ind AS (SELECT dst, count(*) AS c FROM e GROUP BY 1),
         dg AS (SELECT CAST(doc_id AS BIGINT) AS node,
             coalesce(ind.c, 0) AS in_deg
           FROM documents LEFT JOIN ind ON doc_id = ind.dst)
         SELECT in_deg, count(*) AS n_nodes FROM dg
         GROUP BY 1 ORDER BY in_deg""")),

    // k-core of the link graph (k=4, iterative peel to fixpoint —
    // mean degree is ~6, so the peel genuinely cascades): the link-
    // spam periphery filter — sparse tendrils peel away,
    // organically-linked cores survive. Non-monotone peeling has no
    // SQL-recursive twin → rows-only; semantics spec-pinned on
    // closed-form fixtures (GraphSpec)
    Query("graph_kcore", (s, dir) => {
      val docs = table(s, dir, "documents")
      val edges = Graph.linkGraph(docs, col("doc_id"), nNodes = docs.count())
      Graph.kCore(edges, k = 4).orderBy("node")
    }, RowsOnly("graft.ops.GraphSpec")),

    // full core decomposition of a 200-node heavy-tailed sample
    // graph (powerLawGraph: md5-portable preferential attachment —
    // the modulus graph's cores collapse to one shell, this one
    // spans 1..5): ONE H-index fixpoint yields every node's core
    // number, vs the oracle's per-k unrolled peels (depth chosen
    // past each k's measured fixpoint; extra rounds are idempotent).
    // This is the driver-verified twin of the rows-only graph_kcore
    Query("graph_kcore_exact_sample", (s, dir) => {
      val docs = table(s, dir, "documents").filter(col("doc_id") < 200)
      val edges = Graph.powerLawGraph(docs, col("doc_id"))
      val cores = Graph.coreNumbers(edges)
      docs.select(col("doc_id").cast("long").as("node"))
        .join(cores, Seq("node"), "left")
        .select(col("node"), coalesce(col("core"), lit(0L)).as("core"))
        .orderBy("node")
    }, Sql {
      // independent re-derivation: rebuild the md5 power-law sample
      // graph, then peel each k = 1..5 to its fixpoint with an
      // UNROLLED round chain (depth past the measured fixpoint —
      // extra rounds are idempotent on a converged edge set), and
      // recover core(v) as the count of k-cores containing v (cores
      // are nested, so membership-count == max-k == coreness; max
      // coreness of this graph is 5)
      val arms = (1 to 6).map { j =>
        s"""SELECT i AS src,
            ${hexValSql(s"md5(CAST(i AS VARCHAR) || '#l$j')", 8)}
              % greatest(i, 1) AS dst FROM fan WHERE f >= $j"""
      }.mkString("\n           UNION ALL ")
      // AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs,
      // and each round references its predecessor 3× — inlined, the
      // chain re-derives the base graph exponentially many times
      // (observed: fd exhaustion before producing a row)
      def peel(k: Int, depth: Int): String = {
        val rounds = (1 to depth).map { t =>
          s"""n${k}_$t AS MATERIALIZED (SELECT node FROM
                (SELECT a AS node FROM e${k}_${t - 1} UNION ALL
                 SELECT b FROM e${k}_${t - 1})
                GROUP BY 1 HAVING count(*) >= $k),
             e${k}_$t AS MATERIALIZED (SELECT e.a, e.b FROM e${k}_${t - 1} e
                JOIN n${k}_$t x ON e.a = x.node
                JOIN n${k}_$t y ON e.b = y.node)"""
        }.mkString(",\n         ")
        s"""e${k}_0 AS MATERIALIZED (SELECT a, b FROM und),
           $rounds,
           m$k AS (SELECT DISTINCT node FROM
             (SELECT a AS node FROM e${k}_$depth UNION ALL
              SELECT b FROM e${k}_$depth))"""
      }
      // measured rounds-to-fixpoint per k: 1,3,3,4,6 — unroll one past
      val depths = Map(1 -> 2, 2 -> 4, 3 -> 4, 4 -> 5, 5 -> 7)
      val memb = (1 to 5)
        .map(k => s"(CASE WHEN m$k.node IS NOT NULL THEN 1 ELSE 0 END)")
        .mkString("\n           + ")
      val joins = (1 to 5)
        .map(k => s"LEFT JOIN m$k ON d.i = m$k.node")
        .mkString("\n                ")
      s"""WITH d AS MATERIALIZED (SELECT CAST(doc_id AS BIGINT) AS i
             FROM documents WHERE doc_id < 200),
         fan AS MATERIALIZED (SELECT i,
            ${hexValSql("md5(CAST(i AS VARCHAR) || '#f')", 8)} % 6 + 1 AS f
            FROM d),
         e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ($arms)
             WHERE src <> dst),
         und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
                 greatest(src, dst) AS b FROM e),
         ${(1 to 5).map(k => peel(k, depths(k))).mkString(",\n         ")}
         SELECT d.i AS node, CAST($memb AS BIGINT) AS core
         FROM d $joins
         ORDER BY node"""
    }),

    // cross-family composition: per-source top-3 documents by
    // PageRank — the "best of each domain" cut a curation pass
    // exports; the dyadic-grid ranks make the window cut itself
    // oracle-exact (ties broken by node)
    Query("graph_top_ranked_by_source", (s, dir) => {
      val docs = table(s, dir, "documents")
      val n = docs.count()
      val edges = Graph.linkGraph(docs, col("doc_id"), nNodes = n)
      val ranks = Graph.pageRank(edges, docs, col("doc_id"), iters = 3)
        .select(col("node"),
          (floor(col("rank") * lit(n.toDouble) * lit(1e6) + lit(0.5)) /
            lit(1e6)).as("rank_norm"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("rank_norm").desc, col("node"))
      docs.select(col("doc_id").cast("long").as("node"), col("source"))
        .join(ranks, Seq("node"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("source"), col("rk"), col("node"), col("rank_norm"))
        .orderBy("source", "rk")
    }, Sql {
      // the full PageRank CTE chain, then a per-source window cut on
      // the floor-presented rank (bit-exact, so the cut can't flip)
      val prCte = s"""WITH $linkGraphCte,
         deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS d FROM e GROUP BY 1),
         r0 AS (SELECT CAST(doc_id AS BIGINT) AS node,
             ${prQuant("CAST(1.0 AS DOUBLE) / nn.nd")} AS r
             FROM documents CROSS JOIN nn),
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
             FROM r2 LEFT JOIN c3 USING (node) CROSS JOIN d3 CROSS JOIN nn),
         rn AS (SELECT r3.node,
             floor(r3.r * nn.nd * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE))
               / CAST(1000000 AS DOUBLE) AS rank_norm
             FROM r3 CROSS JOIN nn)"""
      s"""$prCte,
         t AS (SELECT d.source, rn.node, rn.rank_norm,
             row_number() OVER (PARTITION BY d.source
               ORDER BY rn.rank_norm DESC, rn.node) AS rk
           FROM rn JOIN documents d ON d.doc_id = rn.node)
         SELECT source, CAST(rk AS BIGINT) AS rk, node, rank_norm
         FROM t WHERE rk <= 3 ORDER BY source, rk"""
    }),

    // weakly-connected components of the induced subgraph on nodes
    // <100 (the full random graph is one giant component — the
    // induced slice is sparse enough to have real structure) via the
    // O(log n) star contraction, convergence-asserted; singleton
    // nodes label themselves. Oracle = recursive-CTE reachability
    Query("graph_components", (s, dir) => {
      val docs = table(s, dir, "documents")
      val edges = Graph.linkGraph(docs, col("doc_id"), nNodes = docs.count())
        .filter(col("src") < 100 && col("dst") < 100)
      val und = Graph.undirected(edges)
      val cc = Dedup.connectedComponentsResult(
        und.select(col("a").as("id_a"), col("b").as("id_b")),
        maxIter = 50, algorithm = "star")
      require(cc.converged, "CC must converge before labels are usable")
      docs.filter(col("doc_id") < 100)
        .select(col("doc_id").cast("long").as("node"))
        .join(cc.labels.select(col("id").as("node"),
          col("cluster").as("component")), Seq("node"), "left")
        .select(col("node"),
          coalesce(col("component"), col("node")).as("component"))
        .orderBy("node")
    }, Sql(
      s"""WITH RECURSIVE $linkGraphCte,
         ef AS (SELECT src, dst FROM e WHERE src < 100 AND dst < 100),
         und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                 FROM ef),
         ed AS (SELECT a AS src, b AS dst FROM und
                UNION SELECT b, a FROM und),
         reach(src, dst) AS (
           SELECT src, dst FROM ed
           UNION
           SELECT r.src, ed.dst FROM reach r JOIN ed ON r.dst = ed.src),
         mm AS (SELECT src AS id, min(dst) AS mn FROM reach GROUP BY 1)
         SELECT CAST(doc_id AS BIGINT) AS node,
           coalesce(least(mm.id, mm.mn), CAST(doc_id AS BIGINT)) AS component
         FROM documents LEFT JOIN mm ON doc_id = mm.id
         WHERE doc_id < 100 ORDER BY node""")),

    // personalized PageRank from a deterministic trusted-seed set
    // (doc_id%50==0): teleport + dangling mass restart at the seeds,
    // unreachable nodes score exactly 0 — seed-based corpus
    // expansion / trust propagation, same bit-exact grid
    Query("graph_ppr", (s, dir) => {
      val docs = table(s, dir, "documents")
      val n = docs.count()
      val edges = Graph.linkGraph(docs, col("doc_id"), nNodes = n)
      val seeds = docs.filter(col("doc_id") % 50 === 0).select("doc_id")
      Graph.personalizedPageRank(edges, docs, col("doc_id"), seeds,
          iters = 3)
        .select(col("node"),
          (floor(col("rank") * lit(n.toDouble) * lit(1e6) + lit(0.5)) /
            lit(1e6)).as("rank_norm"))
        .orderBy("node")
    }, Sql {
      // one PPR update: r' = quant(CASE seed: ((1−d) + d·dang)/|S|
      // ELSE 0 END + d·coalesce(c, 0)) — literal arithmetic pinned to
      // Spark's (1.0 − 0.85)-in-double, like the global oracle
      def step(prev: String, c: String, d: String): String =
        prQuant(s"""CASE WHEN $prev.isseed
             THEN ((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
               + CAST(0.85 AS DOUBLE) * $d.dang) / sc.s
             ELSE 0.0 END
           + CAST(0.85 AS DOUBLE) * coalesce($c.c, 0)""")
      def iter(prev: String, k: Int): String =
        s"""d$k AS (SELECT coalesce(sum(r), 0) AS dang FROM $prev
              LEFT JOIN deg ON $prev.node = deg.src WHERE deg.d IS NULL),
           c$k AS (SELECT e.dst AS node, sum(${prQuant(s"$prev.r / deg.d")}) AS c
              FROM e JOIN deg USING (src) JOIN $prev ON $prev.node = e.src
              GROUP BY 1),
           r$k AS (SELECT $prev.node, $prev.isseed,
              ${step(prev, s"c$k", s"d$k")} AS r
              FROM $prev LEFT JOIN c$k USING (node)
              CROSS JOIN d$k CROSS JOIN sc)"""
      s"""WITH $linkGraphCte,
         sc AS (SELECT CAST(count(*) AS DOUBLE) AS s FROM documents
                WHERE doc_id % 50 = 0),
         deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS d FROM e GROUP BY 1),
         r0 AS (SELECT CAST(doc_id AS BIGINT) AS node,
             (doc_id % 50 = 0) AS isseed,
             CASE WHEN doc_id % 50 = 0
               THEN ${prQuant("CAST(1.0 AS DOUBLE) / sc.s")} ELSE 0.0 END AS r
             FROM documents CROSS JOIN sc),
         ${iter("r0", 1)},
         ${iter("r1", 2)},
         ${iter("r2", 3)}
         SELECT r3.node,
           floor(r3.r * nn.nd * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE))
             / CAST(1000000 AS DOUBLE) AS rank_norm
         FROM r3 CROSS JOIN nn ORDER BY node"""
    }),

    // per-node triangle participation + local clustering coefficient
    // via the degree-ORIENTED wedge join (√m out-degree bound: a
    // celebrity hub never enumerates its quadratic neighbor pairs) —
    // enumeration is orientation-independent, so the plain id-ordered
    // oracle matches exactly
    Query("graph_triangles", (s, dir) => {
      val docs = table(s, dir, "documents")
      val edges = Graph.linkGraph(docs, col("doc_id"), nNodes = docs.count())
      Graph.triangles(edges, docs, col("doc_id"))
        .select(col("node"), col("deg"), col("tri"),
          (floor(col("clust") * lit(1e6) + lit(0.5)) / lit(1e6))
            .as("clust"))
        .orderBy("node")
    }, Sql(
      s"""WITH $linkGraphCte,
         und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                 FROM e),
         t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM und e1
               JOIN und e2 ON e2.a = e1.b
               JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
         corners AS (SELECT x AS node FROM t UNION ALL
                     SELECT y FROM t UNION ALL SELECT z FROM t),
         tc AS (SELECT node, count(*) AS tri FROM corners GROUP BY 1),
         dg AS (SELECT node, count(*) AS deg FROM
                (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
                GROUP BY 1)
         SELECT d.node, coalesce(dg.deg, 0) AS deg, coalesce(tc.tri, 0) AS tri,
           floor(CASE WHEN coalesce(dg.deg, 0) >= 2
             THEN (CAST(2.0 AS DOUBLE) * CAST(coalesce(tc.tri, 0) AS DOUBLE))
               / (CAST(dg.deg AS DOUBLE) * (CAST(dg.deg AS DOUBLE) - CAST(1.0 AS DOUBLE)))
             ELSE 0.0 END * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE))
             / CAST(1000000 AS DOUBLE) AS clust
         FROM (SELECT CAST(doc_id AS BIGINT) AS node FROM documents) d
         LEFT JOIN dg USING (node) LEFT JOIN tc USING (node)
         ORDER BY node""")),

    // HITS hubs/authorities on the same link graph (2 iterations,
    // L1-normalized each half-step, same bit-exact dyadic grid) —
    // the directory-page-vs-content split PageRank's single score
    // conflates
    Query("graph_hits", (s, dir) => {
      val docs = table(s, dir, "documents")
      val n = docs.count()
      val edges = Graph.linkGraph(docs, col("doc_id"), nNodes = n)
      Graph.hits(edges, docs, col("doc_id"), iters = 2)
        .select(col("node"),
          (floor(col("hub") * lit(n.toDouble) * lit(1e6) + lit(0.5)) /
            lit(1e6)).as("hub_norm"),
          (floor(col("auth") * lit(n.toDouble) * lit(1e6) + lit(0.5)) /
            lit(1e6)).as("auth_norm"))
        .orderBy("node")
    }, Sql {
      def half(src: String, inCol: String, outCol: String, from: String,
          to: String): String =
        s"""${outCol}r AS (SELECT e.$to AS node, sum($src.v) AS s
              FROM e JOIN $src ON $src.node = e.$from GROUP BY 1),
           ${outCol}t AS (SELECT coalesce(sum(s), 0.0) AS t FROM ${outCol}r),
           $outCol AS (SELECT h0.node,
              CASE WHEN ${outCol}t.t > 0
                THEN ${prQuant(s"coalesce(${outCol}r.s, 0) / ${outCol}t.t")}
                ELSE 0.0 END AS v
              FROM h0 LEFT JOIN ${outCol}r USING (node) CROSS JOIN ${outCol}t)"""
      s"""WITH $linkGraphCte,
         h0 AS (SELECT CAST(doc_id AS BIGINT) AS node,
             CAST(1.0 AS DOUBLE) AS v FROM documents),
         ${half("h0", "h0", "a1", "src", "dst")},
         ${half("a1", "a1", "h1", "dst", "src")},
         ${half("h1", "h1", "a2", "src", "dst")},
         ${half("a2", "a2", "h2", "dst", "src")}
         SELECT h2.node,
           floor(h2.v * nn.nd * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE))
             / CAST(1000000 AS DOUBLE) AS hub_norm,
           floor(a2.v * nn.nd * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE))
             / CAST(1000000 AS DOUBLE) AS auth_norm
         FROM h2 JOIN a2 USING (node) CROSS JOIN nn ORDER BY node"""
    }),

    // incremental-crawl delta: yesterday's snapshot (doc_id%13==5
    // not yet crawled; %7==0 docs carried a 40-char truncation) vs
    // today's (%17==3 dropped) — per-id added/removed/changed/
    // unchanged off one fingerprint-only full-outer join
    Query("snapshot_delta", (s, dir) => {
      val (o, n) = snapshotPair(table(s, dir, "documents"))
      Snapshot.delta(o, n, col("doc_id"), col("text")).orderBy("id")
    }, Sql(
      s"""WITH $snapshotCte
         SELECT id, status, old_fp, new_fp FROM cls ORDER BY id""")),

    // the same delta against the PERSISTED fingerprint store (built
    // once, ~24 bytes/doc): yesterday's content is never re-read —
    // and because the fingerprints are portable md5, this indexed
    // variant is FULLY oracled, same SQL as the inline twin
    Query("snapshot_delta_indexed", (s, dir) => {
      val docs = table(s, dir, "documents")
      val (o, n) = snapshotPair(docs)
      val store = memoStore("snapfp", dir)(p =>
        Snapshot.buildFingerprintStore(o, col("doc_id"), col("text"), p))
      Snapshot.deltaAgainstStore(s, store, n, col("doc_id"), col("text"))
        .orderBy("id")
    }, Sql(
      s"""WITH $snapshotCte
         SELECT id, status, old_fp, new_fp FROM cls ORDER BY id""")),

    // the delta rollup an incremental pipeline alerts on
    Query("snapshot_delta_counts", (s, dir) => {
      val (o, n) = snapshotPair(table(s, dir, "documents"))
      Snapshot.delta(o, n, col("doc_id"), col("text"))
        .groupBy("status").agg(count(lit(1)).as("n"))
        .presentSorted("status")
    }, Sql(
      s"""WITH $snapshotCte
         SELECT status, count(*) AS n FROM cls GROUP BY 1 ORDER BY status""")),

    // what downstream stages actually reprocess: added|changed ids
    // semi-joined back to the new snapshot (content materialized for
    // the delta only — the whole point of diffing first)
    Query("snapshot_reprocess_feed", (s, dir) => {
      val (o, n) = snapshotPair(table(s, dir, "documents"))
      Snapshot.reprocessFeed(o, n, col("doc_id"), col("text"))
        .select(col("doc_id"), col("status"), col("n_chars"))
        .orderBy("doc_id")
    }, Sql(
      s"""WITH $snapshotCte
         SELECT nw.doc_id, cls.status, nw.n_chars
         FROM nw JOIN cls ON nw.doc_id = cls.id
         WHERE cls.status IN ('added', 'changed')
         ORDER BY nw.doc_id""")),

    // charset sniff + decode of raw payload bytes (the stage between
    // container ingest and every text operator): per-doc fixture
    // cycles ascii / UTF-8 / UTF-8+BOM / UTF-16LE / windows-1252
    // encodings of the document text, the engine sniffs and decodes
    // from actual bytes, and the oracle states the expected charset
    // verdict, the decoded text ITSELF, and the exact byte length in
    // closed form — a full round-trip proof of the validator and both
    // decode tables
    Query("ingest_charset_decode", (s, dir) => {
      val mk = udf((id: Long, txt: String) => Ingest.charsetFixture(id, txt))
      val raw = table(s, dir, "documents")
        .select(col("doc_id"), mk(col("doc_id"), col("text")).as("payload"))
      Ingest.decodeTextAuto(raw, col("payload"))
        .select(col("doc_id"), col("charset"), col("text_decoded"),
          col("n_bytes"))
        .orderBy("doc_id")
    }, Sql(
      """WITH v AS (SELECT doc_id, doc_id % 5 AS k, text,
           text || ' café Ωμέγα' AS wide,
           text || ' café' AS acc
         FROM documents)
       SELECT doc_id,
         CASE k WHEN 0 THEN 'ascii' WHEN 1 THEN 'utf-8'
           WHEN 2 THEN 'utf-8-bom' WHEN 3 THEN 'utf-16le'
           ELSE 'windows-1252' END AS charset,
         CASE k WHEN 0 THEN text WHEN 4 THEN acc ELSE wide END AS text_decoded,
         CAST(CASE k WHEN 0 THEN length(text)
           WHEN 1 THEN octet_length(encode(wide))
           WHEN 2 THEN 3 + octet_length(encode(wide))
           WHEN 3 THEN 2 + 2 * length(wide)
           ELSE length(acc) END AS BIGINT) AS n_bytes
       FROM v ORDER BY doc_id""")),

    // CJK + declared-charset decode (the legacy-encoding half of the
    // charset stage): strict UTF-8 beats a lying Shift_JIS header,
    // Shift_JIS/EUC-JP are found by byte STRUCTURE with no hint, the
    // structurally-ambiguous EUC-KR/GB/Big5 resolve via (aliased)
    // declarations kept honest by strict decode, latin-1 maps to
    // windows-1252 per the web platform, and a lying GBK header falls
    // back; the oracle restates charset, the decoded text ITSELF
    // (UTF-8 literals), and exact byte lengths in closed form
    Query("ingest_charset_cjk", (s, dir) => {
      val mk = udf((id: Long, txt: String) => Ingest.charsetCjkFixture(id, txt))
      val raw = table(s, dir, "documents")
        .select(col("doc_id"), mk(col("doc_id"), col("text")).as("f"))
        .select(col("doc_id"), col("f._1").as("payload"), col("f._2").as("hint"))
      Ingest.decodeTextHint(raw, col("payload"), col("hint"))
        .select(col("doc_id"), col("charset"), col("text_decoded"),
          col("n_bytes"))
        .orderBy("doc_id")
    }, Sql(
      """WITH v AS (SELECT doc_id, doc_id % 9 AS k, text FROM documents)
       SELECT doc_id,
         CASE k WHEN 0 THEN 'utf-8' WHEN 1 THEN 'shift_jis'
           WHEN 2 THEN 'euc-jp' WHEN 3 THEN 'euc-kr' WHEN 4 THEN 'gbk'
           WHEN 5 THEN 'big5' WHEN 8 THEN 'iso-2022-jp'
           ELSE 'windows-1252' END AS charset,
         text || CASE k WHEN 1 THEN ' 日本語テキスト'
           WHEN 2 THEN ' 日本語テキスト' WHEN 8 THEN ' 日本語テキスト'
           WHEN 3 THEN ' 한국어 텍스트'
           WHEN 4 THEN ' 中文文本' WHEN 5 THEN ' 中文測試'
           ELSE ' café' END AS text_decoded,
         CAST(length(text) + CASE k WHEN 0 THEN 6 WHEN 1 THEN 15
           WHEN 2 THEN 15 WHEN 3 THEN 14 WHEN 4 THEN 9 WHEN 5 THEN 9
           WHEN 8 THEN 21 ELSE 5 END AS BIGINT) AS n_bytes
       FROM v ORDER BY doc_id""")),

    // HTTP/1.x response parse between WARC ingest and charset decode
    // (a WARC response payload IS an HTTP message): status line,
    // case-insensitive headers (first wins), Content-Type media type
    // + charset parameter, WHATWG-style <meta charset> prescan when
    // the header has none, gzip Content-Encoding inflated — then the
    // body flows straight into the hinted charset decode, proving the
    // whole container-to-text chain on one fixture; the oracle states
    // every field and the decoded text itself in closed form
    Query("ingest_http_responses", (s, dir) => {
      val mk = udf((id: Long, txt: String) => Ingest.httpFixture(id, txt))
      val raw = table(s, dir, "documents")
        .select(col("doc_id"), mk(col("doc_id"), col("text")).as("payload"))
      val parsed = Ingest.parseHttp(raw, col("payload"))
      Ingest.decodeTextHint(parsed, col("body"), col("charset_hint"))
        .select(col("doc_id"), col("status"), col("content_type"),
          col("charset_hint"), col("content_encoding"), col("n_headers"),
          col("charset"), col("text_decoded"), col("n_bytes"))
        .orderBy("doc_id")
    }, Sql(
      """WITH v AS (SELECT doc_id, doc_id % 6 AS k, text FROM documents),
         d AS (SELECT doc_id, k,
           CASE k
             WHEN 0 THEN '<html><body>' || text || ' café Ωμέγα</body></html>'
             WHEN 1 THEN '<html><head><meta charset="shift_jis"></head><body>'
               || text || ' 日本語テキスト</body></html>'
             WHEN 2 THEN 'not found ' || text
             WHEN 3 THEN '<html><body>' || text || ' gzipped café</body></html>'
             WHEN 4 THEN '<html><body>' || text || ' café</body></html>'
             ELSE '' END AS td
           FROM v)
         SELECT doc_id,
           CAST(CASE k WHEN 2 THEN 404 WHEN 5 THEN 301 ELSE 200 END
             AS INT) AS status,
           CASE k WHEN 2 THEN 'text/plain' ELSE 'text/html' END
             AS content_type,
           CASE k WHEN 0 THEN 'utf-8' WHEN 1 THEN 'shift_jis'
             WHEN 3 THEN 'utf-8' WHEN 4 THEN 'windows-1252'
             ELSE '' END AS charset_hint,
           CASE k WHEN 3 THEN 'gzip' ELSE '' END AS content_encoding,
           CAST(CASE k WHEN 0 THEN 2 WHEN 3 THEN 2 WHEN 5 THEN 2
             ELSE 1 END AS INT) AS n_headers,
           CASE k WHEN 0 THEN 'utf-8' WHEN 1 THEN 'shift_jis'
             WHEN 3 THEN 'utf-8' WHEN 4 THEN 'windows-1252'
             ELSE 'ascii' END AS charset,
           td AS text_decoded,
           CAST(CASE k WHEN 0 THEN octet_length(encode(td))
             WHEN 1 THEN length(td) + 7
             WHEN 3 THEN octet_length(encode(td))
             ELSE length(td) END AS BIGINT) AS n_bytes
         FROM d ORDER BY doc_id""")),

    // WARC/1.0 crawl-container ingest: real byte-level record walk
    // (version line, case-insensitive headers, Content-Length-
    // delimited payloads). Oracle recomputes every field closed-form
    // WITHOUT the bytes — payload md5 == md5(text) proves the parser
    // cut exact payload boundaries
    Query("ingest_warc_records", (s, dir) => {
      val mk = udf((id: Long, txt: String) => Ingest.warcFixture(id, txt))
      val containers = table(s, dir, "documents")
        .select(col("doc_id"), mk(col("doc_id"), col("text")).as("warc"))
      Ingest.warcRecords(containers)
        .select(col("doc_id"), col("rec_idx"), col("warc_type"),
          col("target_uri"), col("content_length"),
          md5(col("payload")).as("payload_md5"))
        .orderBy("doc_id", "rec_idx")
    }, Sql(
      """WITH info AS (SELECT 'software: graft-crawler/1.0'
             || chr(13) || chr(10) AS ip)
         SELECT doc_id, 0 AS rec_idx, 'warcinfo' AS warc_type,
           CAST(NULL AS VARCHAR) AS target_uri,
           CAST(strlen(ip) AS BIGINT) AS content_length,
           md5(ip) AS payload_md5
         FROM documents CROSS JOIN info
         UNION ALL
         SELECT doc_id, 1, 'response',
           'http://example.com/doc/' || doc_id,
           CAST(strlen(text) AS BIGINT), md5(text)
         FROM documents
         ORDER BY doc_id, rec_idx""")),

    // GZIPPED WARC ingest (.warc.gz — one gzip member per record,
    // concatenated: the Common-Crawl wire format): containers are
    // REALLY deflate-compressed (java.util.zip on the fixture side,
    // GZIPInputStream multi-member consumption on the decode side);
    // decompressed content is byte-identical to the plain fixture, so
    // the SAME oracle fields (lengths, URIs, payload md5) must come
    // out — a desync or partial-member bug fails the hash.
    Query("ingest_warc_gz_records", (s, dir) => {
      val mk = udf((id: Long, txt: String) => Ingest.warcGzFixture(id, txt))
      val containers = table(s, dir, "documents")
        .select(col("doc_id"), mk(col("doc_id"), col("text")).as("warc"))
      Ingest.warcRecords(containers)
        .select(col("doc_id"), col("rec_idx"), col("warc_type"),
          col("target_uri"), col("content_length"),
          md5(col("payload")).as("payload_md5"))
        .orderBy("doc_id", "rec_idx")
    }, Sql(
      // decompressed .warc.gz content is byte-identical to the plain
      // container, so the oracle is the same record restatement
      """WITH info AS (SELECT 'software: graft-crawler/1.0'
             || chr(13) || chr(10) AS ip)
         SELECT doc_id, 0 AS rec_idx, 'warcinfo' AS warc_type,
           CAST(NULL AS VARCHAR) AS target_uri,
           CAST(strlen(ip) AS BIGINT) AS content_length,
           md5(ip) AS payload_md5
         FROM documents CROSS JOIN info
         UNION ALL
         SELECT doc_id, 1, 'response',
           'http://example.com/doc/' || doc_id,
           CAST(strlen(text) AS BIGINT), md5(text)
         FROM documents
         ORDER BY doc_id, rec_idx""")),

    // SEQUENCE PACKING (graft.ops.Pack): the trainer-facing layout
    // step. Chopped = concatenate-and-chop at 2048-token boundaries
    // (GPT-style pretraining; window arithmetic, fully oracled);
    // greedy = non-splitting first-fit (SFT-style; a sequential fold
    // per shard, oracled via a DuckDB recursive CTE folding the SAME
    // rule). md5 shard+order makes both layouts engine-portable.
    // Z-ORDER LAYOUT KEY (graft.ops.Layout.zValue): the Morton
    // interleave behind writeZOrdered's dual-dimension data skipping —
    // pure codegen'd bitwise Column ops, and pure bit ARITHMETIC, so
    // the oracle rebuilds every bit position in SQL (a → odd bits,
    // b → even). The layout/locality semantics themselves are
    // LayoutSpec-pinned (quadrant property, per-file rectangles)
    Query("layout_zorder_keys", (s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"),
          Layout.zValue(col("doc_id"), col("n_chars")).as("z"))
        .orderBy("doc_id"),
    Sql(
      // the Morton interleave, rebuilt bit by bit: a's bit k lands at
      // position 2k+1, b's at 2k (inputs < 2^31, so bits 0..30 suffice)
      """SELECT doc_id,
           CAST(list_sum(list_transform(range(0, 31), k ->
             (((doc_id >> k) & 1) << (2*k + 1)) +
             (((n_chars >> k) & 1) << (2*k)))) AS BIGINT) AS z
         FROM documents ORDER BY doc_id""")),

    // 3-dim Morton key (Layout.zValueN, r13 verdict item 5): 21 bits
    // per dimension, bit k of dim d at position 3k+(2-d); the third
    // dimension is arithmetic ((doc_id*31+7) mod 997) so the oracle
    // rebuilds all 63 bit positions in SQL
    Query("layout_zorder3_keys", (s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"),
          Layout.zValueN(Seq(col("doc_id"), col("n_chars"),
            pmod(col("doc_id") * 31 + 7, lit(997)))).as("z"))
        .orderBy("doc_id"),
    Sql(
      // the 3-dim interleave, rebuilt bit by bit: dim d of 3 lands at
      // position 3k + (2-d), 21 bits each (inputs < 2^21)
      """SELECT doc_id,
           CAST(list_sum(list_transform(range(0, 21), k ->
             (((doc_id >> k) & 1) << (3*k + 2)) +
             (((n_chars >> k) & 1) << (3*k + 1)) +
             (((((doc_id * 31 + 7) % 997) >> k) & 1) << (3*k)))) AS BIGINT)
             AS z
         FROM documents ORDER BY doc_id""")),

    Query("pack_chopped", (s, dir) =>
      Pack.packChopped(table(s, dir, "documents"), col("doc_id"),
          TextOps.tokenCount(col("text")), seqLen = 2048, shards = 16,
          seed = 3L)
        .orderBy("shard", "seq_first", "off"),
    Sql(
      """WITH d AS (SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
               AS n_tokens,
             md5(CAST(doc_id AS VARCHAR) || '#3') AS h FROM documents),
         s AS (SELECT doc_id, n_tokens, h,
             ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 +
              strpos('0123456789abcdef', substr(h, 2, 1)) - 1) % 16 AS shard
           FROM d WHERE n_tokens > 0),
         c AS (SELECT doc_id, shard, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum
           FROM s)
         SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens,
           CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS seq_first,
           CAST(floor((cum - 1) / 2048.0) AS BIGINT) AS seq_last,
           (cum - n_tokens) % 2048 AS off
         FROM c ORDER BY shard, seq_first, off""")),

    Query("pack_greedy", (s, dir) =>
      Pack.packGreedy(table(s, dir, "documents"), col("doc_id"),
          TextOps.tokenCount(col("text")), seqLen = 2048, shards = 16,
          seed = 3L)
        .orderBy("shard", "bin", "doc_id"),
    Sql(
      """WITH RECURSIVE d AS (
           SELECT doc_id, n_tokens, h,
             ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 +
              strpos('0123456789abcdef', substr(h, 2, 1)) - 1) % 16 AS shard
           FROM (SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                 AS n_tokens,
               md5(CAST(doc_id AS VARCHAR) || '#3') AS h FROM documents)
           WHERE n_tokens > 0),
         r AS (SELECT doc_id, n_tokens, h, shard,
             row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS rn
           FROM d),
         f AS (
           SELECT doc_id, shard, rn, n_tokens,
             CAST(0 AS BIGINT) AS bin, n_tokens AS fill
           FROM r WHERE rn = 1
           UNION ALL
           SELECT r.doc_id, r.shard, r.rn, r.n_tokens,
             CASE WHEN f.fill + r.n_tokens <= 2048
                  THEN f.bin ELSE f.bin + 1 END,
             CASE WHEN f.fill + r.n_tokens <= 2048
                  THEN f.fill + r.n_tokens ELSE r.n_tokens END
           FROM f JOIN r ON r.shard = f.shard AND r.rn = f.rn + 1)
         SELECT doc_id, CAST(shard AS BIGINT) AS shard, bin, n_tokens
         FROM f ORDER BY shard, bin, doc_id""")),

    // the composed funnel: documents -> overlapping token chunks
    // (TextOps.chunkTokens) -> greedy-packed training sequences
    // (Pack.packGreedy over chunk ids) — chunking bounds every unit at
    // 64 tokens so bins fill tightly; generic string ids ("doc:chunk")
    // exercise the caller-typed id contract end-to-end
    Query("pack_chunks_greedy", (s, dir) => {
      val chunks = TextOps.chunkTokens(table(s, dir, "documents"),
          col("text"), col("doc_id"), chunkTokens = 64, overlapTokens = 16)
        .select(concat(col("doc_id").cast(StringType), lit(":"),
          col("chunk_id").cast(StringType)).as("cid"), col("n_tokens"))
      Pack.packGreedy(chunks, col("cid"), col("n_tokens"), seqLen = 256,
          shards = 16, seed = 3L)
        .orderBy("shard", "bin", "doc_id")
    }, Sql(
      """WITH RECURSIVE t0 AS (SELECT doc_id,
           regexp_split_to_array(trim(text), '\s+') AS tok FROM documents),
         nc AS (SELECT doc_id, tok,
           CASE WHEN len(tok) <= 64 THEN 1
                ELSE 1 + CAST(ceil((len(tok) - 64) / 48.0) AS BIGINT)
           END AS n_chunks FROM t0),
         ch AS (SELECT doc_id, tok, unnest(range(n_chunks)) AS chunk_id
                FROM nc),
         c2 AS (SELECT
             CAST(doc_id AS VARCHAR) || ':' || CAST(chunk_id AS VARCHAR)
               AS cid,
             CAST(len(list_slice(tok, CAST(chunk_id * 48 + 1 AS BIGINT),
               CAST(chunk_id * 48 + 64 AS BIGINT))) AS BIGINT) AS n_tokens
           FROM ch),
         d AS (
           SELECT cid AS doc_id, n_tokens, h,
             ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 +
              strpos('0123456789abcdef', substr(h, 2, 1)) - 1) % 16 AS shard
           FROM (SELECT cid, n_tokens, md5(cid || '#3') AS h FROM c2)
           WHERE n_tokens > 0),
         r AS (SELECT doc_id, n_tokens, h, shard,
             row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS rn
           FROM d),
         f AS (
           SELECT doc_id, shard, rn, n_tokens,
             CAST(0 AS BIGINT) AS bin, n_tokens AS fill
           FROM r WHERE rn = 1
           UNION ALL
           SELECT r.doc_id, r.shard, r.rn, r.n_tokens,
             CASE WHEN f.fill + r.n_tokens <= 256
                  THEN f.bin ELSE f.bin + 1 END,
             CASE WHEN f.fill + r.n_tokens <= 256
                  THEN f.fill + r.n_tokens ELSE r.n_tokens END
           FROM f JOIN r ON r.shard = f.shard AND r.rn = f.rn + 1)
         SELECT doc_id, CAST(shard AS BIGINT) AS shard, bin, n_tokens
         FROM f ORDER BY shard, bin, doc_id""")),

    // the loader-facing manifest of the chopped layout: one row per
    // (document, sequence) segment; segments tile every sequence
    // exactly (PackSpec), so a trainer materializes any sequence by
    // range-reading just the docs listed under it
    Query("pack_manifest", (s, dir) =>
      Pack.chopManifest(table(s, dir, "documents"), col("doc_id"),
          TextOps.tokenCount(col("text")), seqLen = 2048, shards = 16,
          seed = 3L)
        .orderBy("shard", "seq", "off_in_seq"),
    Sql(
      """WITH d AS (SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
               AS n_tokens,
             md5(CAST(doc_id AS VARCHAR) || '#3') AS h FROM documents),
         s AS (SELECT doc_id, n_tokens, h,
             ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 +
              strpos('0123456789abcdef', substr(h, 2, 1)) - 1) % 16 AS shard
           FROM d WHERE n_tokens > 0),
         c AS (SELECT doc_id, shard, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum
           FROM s),
         p AS (SELECT doc_id, shard, n_tokens,
             CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS seq_first,
             CAST(floor((cum - 1) / 2048.0) AS BIGINT) AS seq_last,
             (cum - n_tokens) % 2048 AS off
           FROM c),
         m0 AS (SELECT doc_id, shard, n_tokens, off, seq_first,
             unnest(range(seq_first, seq_last + 1)) AS seq FROM p),
         m1 AS (SELECT doc_id, shard, seq, n_tokens,
             CASE WHEN seq = seq_first THEN 0
                  ELSE (seq - seq_first) * 2048 - off END AS tok_start,
             CASE WHEN seq = seq_first THEN off ELSE 0 END AS off_in_seq
           FROM m0)
         SELECT doc_id, CAST(shard AS BIGINT) AS shard, seq, tok_start,
           off_in_seq,
           least(n_tokens - tok_start, 2048 - off_in_seq) AS seg_len
         FROM m1 ORDER BY shard, seq, off_in_seq""")),

    // padding-waste audit of the greedy layout: per-sequence doc
    // count, fill, and pad — the number a packing job reports
    Query("pack_utilization", (s, dir) =>
      Pack.greedyUtilization(
        Pack.packGreedy(table(s, dir, "documents"), col("doc_id"),
          TextOps.tokenCount(col("text")), seqLen = 2048, shards = 16,
          seed = 3L),
        seqLen = 2048)
        .orderBy("shard", "bin"),
    Sql(
      """WITH RECURSIVE d AS (
           SELECT doc_id, n_tokens, h,
             ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 +
              strpos('0123456789abcdef', substr(h, 2, 1)) - 1) % 16 AS shard
           FROM (SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                 AS n_tokens,
               md5(CAST(doc_id AS VARCHAR) || '#3') AS h FROM documents)
           WHERE n_tokens > 0),
         r AS (SELECT doc_id, n_tokens, h, shard,
             row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS rn
           FROM d),
         f AS (
           SELECT doc_id, shard, rn, n_tokens,
             CAST(0 AS BIGINT) AS bin, n_tokens AS fill
           FROM r WHERE rn = 1
           UNION ALL
           SELECT r.doc_id, r.shard, r.rn, r.n_tokens,
             CASE WHEN f.fill + r.n_tokens <= 2048
                  THEN f.bin ELSE f.bin + 1 END,
             CASE WHEN f.fill + r.n_tokens <= 2048
                  THEN f.fill + r.n_tokens ELSE r.n_tokens END
           FROM f JOIN r ON r.shard = f.shard AND r.rn = f.rn + 1)
         SELECT CAST(shard AS BIGINT) AS shard, bin,
           count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS fill,
           CASE WHEN sum(n_tokens) < 2048
                THEN 2048 - CAST(sum(n_tokens) AS BIGINT)
                ELSE 0 END AS pad
         FROM f GROUP BY 1, 2 ORDER BY 1, 2""")),

    // INCREMENTAL chopped packing: chopped layout store built once
    // over doc_id >= 50; the increment's stream continues at each
    // shard's stored token total — oracled with the same window SQL
    // under store-first ordering
    Query("pack_chopped_indexed", (s, dir) => {
      val docs = table(s, dir, "documents")
      val store = memoStore("chopidx", dir)(p =>
        Pack.buildChoppedLayout(docs.filter(col("doc_id") >= 50),
          col("doc_id"), TextOps.tokenCount(col("text")), p,
          seqLen = 2048, shards = 16, seed = 3L))
      Pack.packChoppedAppend(s, store, docs.filter(col("doc_id") < 50),
          col("doc_id"), TextOps.tokenCount(col("text")))
        .orderBy("shard", "seq_first", "off")
    }, Sql(
      """WITH d AS (SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
               AS n_tokens,
             md5(CAST(doc_id AS VARCHAR) || '#3') AS h FROM documents),
         s AS (SELECT doc_id, n_tokens, h,
             ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 +
              strpos('0123456789abcdef', substr(h, 2, 1)) - 1) % 16 AS shard
           FROM d WHERE n_tokens > 0),
         c AS (SELECT doc_id, shard, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY shard
               ORDER BY (doc_id < 50), h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum
           FROM s)
         SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens,
           CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS seq_first,
           CAST(floor((cum - 1) / 2048.0) AS BIGINT) AS seq_last,
           (cum - n_tokens) % 2048 AS off
         FROM c WHERE doc_id < 50 ORDER BY shard, seq_first, off""")),

    // INCREMENTAL packing: the layout store built once over
    // doc_id >= 50, the increment (doc_id < 50) folds ONTO each
    // shard's open sequence — continuing the stored fold is exactly
    // "stored corpus first, then increment", so even this stateful
    // indexed twin is FULLY ORACLED (recursive CTE with store-first
    // ordering, filtered to the increment)
    Query("pack_greedy_indexed", (s, dir) => {
      val docs = table(s, dir, "documents")
      val store = memoStore("packidx", dir)(p =>
        Pack.buildGreedyLayout(docs.filter(col("doc_id") >= 50),
          col("doc_id"), TextOps.tokenCount(col("text")), p,
          seqLen = 2048, shards = 16, seed = 3L))
      Pack.packGreedyAppend(s, store, docs.filter(col("doc_id") < 50),
          col("doc_id"), TextOps.tokenCount(col("text")))
        .orderBy("shard", "bin", "doc_id")
    }, Sql(
      """WITH RECURSIVE d AS (
           SELECT doc_id, n_tokens, h,
             ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 +
              strpos('0123456789abcdef', substr(h, 2, 1)) - 1) % 16 AS shard
           FROM (SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                 AS n_tokens,
               md5(CAST(doc_id AS VARCHAR) || '#3') AS h FROM documents)
           WHERE n_tokens > 0),
         r AS (SELECT doc_id, n_tokens, h, shard,
             row_number() OVER (PARTITION BY shard
               ORDER BY (doc_id < 50), h, doc_id) AS rn
           FROM d),
         f AS (
           SELECT doc_id, shard, rn, n_tokens,
             CAST(0 AS BIGINT) AS bin, n_tokens AS fill
           FROM r WHERE rn = 1
           UNION ALL
           SELECT r.doc_id, r.shard, r.rn, r.n_tokens,
             CASE WHEN f.fill + r.n_tokens <= 2048
                  THEN f.bin ELSE f.bin + 1 END,
             CASE WHEN f.fill + r.n_tokens <= 2048
                  THEN f.fill + r.n_tokens ELSE r.n_tokens END
           FROM f JOIN r ON r.shard = f.shard AND r.rn = f.rn + 1)
         SELECT doc_id, CAST(shard AS BIGINT) AS shard, bin, n_tokens
         FROM f WHERE doc_id < 50 ORDER BY shard, bin, doc_id""")),
  )
}
