package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Link-graph analytics over a document corpus — the web-graph half
  * of large-scale pretraining curation. Crawl pipelines routinely
  * harvest graph-derived quality signals (a page's in-link mass is
  * the classic centrality prior; OPIC/PageRank scores gate crawl
  * frontier priority and corpus inclusion) that pure text features
  * cannot see. The reference engine has no graph surface (kairos is
  * a time-series bucketing library, `timeseries.py:299-393`); this
  * module is part of the beyond-parity LLM-pipeline layer, like
  * [[Dedup]] and [[Similarity]].
  *
  * Distributed shape, DataFrame-first: the edge list is the ONLY
  * large table. Each PageRank iteration is two key-equality shuffles
  * (ranks⋈edges on src, contribution aggregation on dst) — the same
  * plan GraphX's Pregel lowers to, but expressed declaratively so
  * Catalyst keeps column pruning and AQE handles hub skew (a
  * celebrity page's in-links are a skewed agg key, which AQE splits;
  * the JOIN side skew is bounded because rank rows are one per node).
  * The dangling-rank mass is a one-row aggregate CROSS-JOINED back in
  * (broadcast by construction) — no driver-side collect per
  * iteration, so an N-iteration run is one plan per iteration with
  * the rank table pinned eagerly each round. At 100 TB:
  * bucket the edge table by src so the per-iteration rank join is
  * co-located, and the per-iteration cost is one exchange of the
  * (node, rank) table — |V| rows, not |E|.
  */
object Graph {

  /** Deterministic, engine-portable synthetic link graph: doc `i`
    * emits `fanout` out-links `j = 1..fanout` to
    * `hexval(md5("<i>#l<j>"), 8 nibbles) mod nNodes`, self-loops
    * dropped, parallel edges collapsed. The md5-of-key derivation is
    * the same portable idiom as [[Mix.portableKey]]: any engine with
    * md5 reproduces the identical edge set, which is what lets the
    * DuckDB oracle rebuild the graph without seeing Spark's output.
    * (A real pipeline would extract hrefs at ingest; the derivation
    * stands in for that extraction with a reproducible contract.) */
  def linkGraph(docs: DataFrame, id: Column, nNodes: Long,
      fanout: Int = 3): DataFrame = {
    require(nNodes > 0, "linkGraph needs a positive node count")
    val dsts = array((1 to fanout).map { j =>
      conv(substring(md5(concat(id.cast("string"), lit(s"#l$j"))), 1, 8),
        16, 10).cast("long") % nNodes
    }: _*)
    docs.select(id.cast("long").as("src"), explode(dsts).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Deterministic heavy-tailed sibling of [[linkGraph]]: node `i`
    * emits `1 + hexval(md5("<i>#f"), 8) % maxFanout` out-links, the
    * j-th to `hexval(md5("<i>#l<j>"), 8) % max(i, 1)` — dsts land
    * UNIFORMLY BELOW the source id, the md5-portable stand-in for
    * preferential attachment (early pages accumulate in-links the
    * way real crawl graphs' old hubs do). Unlike [[linkGraph]]'s
    * near-regular modulus graph (whose k-core collapses to a single
    * shell), this one has a genuine core spectrum and hub skew,
    * which is what a core-decomposition sample query needs to
    * exercise. Same portability contract: any engine with md5
    * rebuilds the identical edge set. */
  def powerLawGraph(docs: DataFrame, id: Column,
      maxFanout: Int = 6): DataFrame = {
    require(maxFanout >= 1, "powerLawGraph needs maxFanout >= 1")
    val i = id.cast("long")
    val fanout = conv(substring(
        md5(concat(i.cast("string"), lit("#f"))), 1, 8), 16, 10)
      .cast("long") % maxFanout + 1
    val opts = array((1 to maxFanout).map { j =>
      struct(lit(j).as("j"),
        (conv(substring(md5(concat(i.cast("string"), lit(s"#l$j"))),
          1, 8), 16, 10).cast("long") % greatest(i, lit(1L))).as("dst"))
    }: _*)
    docs.select(i.as("src"), fanout.as("__f"), explode(opts).as("__o"))
      .filter(col("__o.j") <= col("__f"))
      .select(col("src"), col("__o.dst").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Out-degree / in-degree per node over an edge list, zero-filled
    * from the node table: (node, out_deg, in_deg). Two partial-agg
    * shuffles on src / dst, then two key joins back to nodes. */
  def degrees(edges: DataFrame, nodes: DataFrame, node: Column): DataFrame = {
    val out = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_deg"))
    val in = edges.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("in_deg"))
    nodes.select(node.cast("long").as("node"))
      .join(out, Seq("node"), "left")
      .join(in, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  /** Dyadic rank grid: every stored rank and every per-edge
    * contribution term is snapped to a multiple of 2^-30 (floor(x·Q
    * + ½)/Q — multiply, floor, and divide by a power of two are all
    * EXACT in IEEE double). The point is cross-engine bit-equality:
    * double addition of grid multiples with |Σ| ≤ 1 incurs zero
    * rounding, so the order-dependent aggregation sums (Spark's
    * partial/final two-level agg vs any other engine's order) become
    * order-INDEPENDENT and bit-exact, the same way integer sums are.
    * Without it, ranks are rationals that structurally land on
    * decimal half-boundaries (measured at sf0.01: node 357's
    * normalized rank is exactly 1.4218125, and a 2-ulp sum-order
    * divergence flipped its 6-digit rounding between engines). Cost:
    * ≤ 2^-31 absolute error per term per iteration — bounded,
    * deterministic, and documented in the query contract. */
  private val RankQuantum = (1L << 30).toDouble
  private def quant(c: Column): Column =
    floor(c * lit(RankQuantum) + lit(0.5)) / lit(RankQuantum)

  /** Standard damped PageRank with exact dangling-mass
    * redistribution: r'(v) = (1−d)/N + d·(Σ_{u→v} r(u)/outdeg(u) +
    * dangling/N), iterated `iters` times from the uniform vector.
    * Output: (node, rank), Σ rank = 1 every iteration (spec-held
    * invariant, up to the 2^-30 rank grid above).
    *
    * Per iteration, in one lazy plan: ranks⋈outdeg (node-keyed, left;
    * the null side IS the dangling set, so no second scan),
    * dangling = one-row sum cross-joined back (BroadcastNestedLoop on
    * a single row — deliberately the one place a cross join is
    * correct), contributions = edges⋈ranks on src then agg on dst,
    * final left join back to the full node set so sink-only nodes
    * keep receiving base rank. Each iteration's rank table is pinned
    * EAGERLY (one |V|-row localCheckpoint job per round): the update
    * reads the previous ranks TWICE (dangling + contributions), so an
    * unpinned chain recomputes with branch factor 2^k — at 3
    * iterations that is 8 rebuilds of the base scan, at 20 it is the
    * end of the job (plan-audited; the same double-branch trap as
    * Colloc's totals). */
  def pageRank(edges: DataFrame, nodes: DataFrame, node: Column,
      iters: Int, damping: Double = 0.85): DataFrame = {
    // Pin the LOOP-INVARIANT inputs once: every iteration is its own
    // eagerly-checkpointed job, so without this the edge derivation
    // (often an explode+distinct funnel like linkGraph — two shuffles)
    // re-runs 2-3x per iteration (dangling branch, contribution
    // branch), and the node/count subtrees re-scan the source per
    // round. Four fixed jobs replace O(iters) re-derivations; rank
    // arithmetic (and so the result) is bit-identical. localCheckpoint
    // preserves the origin plan's statistics, so join-strategy choices
    // downstream are unchanged.
    val e = edges.select(col("src"), col("dst")).transform(Layout.pin(_))
    val n = nodes.select(node.cast("long").as("node")).transform(Layout.pin(_))
    val outDeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("double").as("__deg"))
      .transform(Layout.pin(_))
    val nCount = n.agg(count(lit(1)).cast("double").as("__n"))
      .transform(Layout.pin(_))
    var ranks = n.crossJoin(nCount)
      .select(col("node"), quant(lit(1.0) / col("__n")).as("rank"))
    for (i <- 1 to iters) {
      val withDeg = ranks.join(outDeg, Seq("node"), "left")
      val dangling = withDeg.filter(col("__deg").isNull)
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("__dangling"))
      val contribs = e
        .join(withDeg.filter(col("__deg").isNotNull)
          .withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(quant(col("rank") / col("__deg"))).as("__c"))
      ranks = n.join(contribs, Seq("node"), "left")
        .crossJoin(dangling).crossJoin(nCount)
        .select(col("node"),
          quant(lit(1.0 - damping) / col("__n") +
            lit(damping) * (coalesce(col("__c"), lit(0.0)) +
              col("__dangling") / col("__n"))).as("rank"))
      if (i < iters) ranks = ranks.transform(Layout.pin(_))
    }
    ranks
  }

  /** HITS hubs & authorities (Kleinberg): a(v) = Σ_{u→v} h(u),
    * h(v) = Σ_{v→u} a(u), each half-step L1-normalized then snapped
    * to the [[quant]] grid — initial hubs are 1.0 (grid-exact), so
    * every aggregation sums grid multiples and the whole computation
    * is bit-identical across engines, like [[pageRank]]. Output:
    * (node, hub, auth), both sides summing to 1 (±grid). Same
    * per-iteration plan shape as pageRank: two key-equality shuffles
    * plus one-row broadcast totals, each half-step's table pinned
    * eagerly (each feeds its own total AND the next half-step — the
    * 2^k branch trap pageRank's scaladoc describes). */
  def hits(edges: DataFrame, nodes: DataFrame, node: Column,
      iters: Int): DataFrame = {
    // same loop-invariant pinning as [[pageRank]]: each half-step is
    // an eager checkpoint job, so unpinned edge/node subtrees would
    // re-derive once per half-step (4x per iteration here)
    val e = edges.select(col("src"), col("dst")).transform(Layout.pin(_))
    val n = nodes.select(node.cast("long").as("node")).transform(Layout.pin(_))
    var hubs = n.withColumn("hub", lit(1.0))
    var auths = n.withColumn("auth", lit(0.0))
    for (i <- 1 to iters) {
      val a0 = e
        .join(hubs.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum(col("hub")).as("__a"))
      val aTot = a0.agg(coalesce(sum(col("__a")), lit(0.0)).as("__t"))
      auths = n.join(a0, Seq("node"), "left").crossJoin(aTot)
        .select(col("node"),
          when(col("__t") > 0,
            quant(coalesce(col("__a"), lit(0.0)) / col("__t")))
            .otherwise(lit(0.0)).as("auth"))
      val h0 = e
        .join(auths.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src").as("node")).agg(sum(col("auth")).as("__h"))
      val hTot = h0.agg(coalesce(sum(col("__h")), lit(0.0)).as("__t"))
      hubs = n.join(h0, Seq("node"), "left").crossJoin(hTot)
        .select(col("node"),
          when(col("__t") > 0,
            quant(coalesce(col("__h"), lit(0.0)) / col("__t")))
            .otherwise(lit(0.0)).as("hub"))
      auths = auths.transform(Layout.pin(_))
      if (i < iters) hubs = hubs.transform(Layout.pin(_))
    }
    hubs.join(auths, Seq("node"))
  }

  /** Personalized PageRank: teleport (and dangling mass) go to the
    * SEED set instead of the uniform vector — r'(v) = d·Σ_{u→v}
    * r(u)/outdeg(u), plus ((1−d) + d·dangling)/|S| if v ∈ S. The
    * locality score behind seed-based corpus expansion ("find more
    * pages like this trusted set") and trust-propagation filters;
    * nodes unreachable from the seeds score exactly 0. Same dyadic
    * grid, same per-iteration plan (two key shuffles + one-row
    * broadcast scalars, seed membership as a broadcast semi-join
    * flag), same Σ rank = 1 invariant as [[pageRank]]. */
  def personalizedPageRank(edges: DataFrame, nodes: DataFrame,
      node: Column, seeds: DataFrame, iters: Int,
      damping: Double = 0.85): DataFrame = {
    // same loop-invariant pinning as [[pageRank]]
    val e = edges.select(col("src"), col("dst")).transform(Layout.pin(_))
    val n = nodes.select(node.cast("long").as("node"))
    val s = seeds.select(seeds.columns.head).toDF("node")
      .select(col("node").cast("long").as("node")).distinct()
    val sCount = s.agg(count(lit(1)).cast("double").as("__s"))
      .transform(Layout.pin(_))
    val outDeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("double").as("__deg"))
      .transform(Layout.pin(_))
    val flagged = n.join(s.withColumn("__seed", lit(1)), Seq("node"), "left")
      .transform(Layout.pin(_))
    var ranks = flagged.crossJoin(sCount)
      .select(col("node"), col("__seed"),
        when(col("__seed").isNotNull, quant(lit(1.0) / col("__s")))
          .otherwise(lit(0.0)).as("rank"))
    for (i <- 1 to iters) {
      val withDeg = ranks.join(outDeg, Seq("node"), "left")
      val dangling = withDeg.filter(col("__deg").isNull)
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("__dangling"))
      val contribs = e
        .join(withDeg.filter(col("__deg").isNotNull)
          .select(col("node").as("src"), col("rank"), col("__deg")),
          Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(quant(col("rank") / col("__deg"))).as("__c"))
      ranks = flagged.join(contribs, Seq("node"), "left")
        .crossJoin(dangling).crossJoin(sCount)
        .select(col("node"), col("__seed"),
          quant(
            when(col("__seed").isNotNull,
              (lit(1.0 - damping) + lit(damping) * col("__dangling")) /
                col("__s")).otherwise(lit(0.0)) +
            lit(damping) * coalesce(col("__c"), lit(0.0))).as("rank"))
      if (i < iters) ranks = ranks.transform(Layout.pin(_))
    }
    ranks.select(col("node"), col("rank"))
  }

  /** Canonical undirected edge set: (a, b) with a < b, parallel and
    * reverse duplicates collapsed. */
  def undirected(edges: DataFrame): DataFrame =
    edges.select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** k-core: the maximal subgraph where every node keeps degree ≥ k,
    * found by iterative peeling (drop all nodes below k, recompute
    * degrees, repeat to fixpoint) — the classic link-spam / low-
    * quality-periphery filter: content farms form sparse tendrils
    * that peel away while organically-linked cores survive. Each
    * round is one degree aggregation + two semi-joins, the shrinking
    * edge set pinned per round (each round's table feeds the degree
    * agg, both semi-joins, AND the convergence count). Convergence is
    * a bounded one-scalar count per round — the properties()-class
    * driver read every fixpoint loop needs. Returns the member
    * nodes; non-monotone peeling has no SQL-recursive twin, so the
    * driver check is rows-only and the semantics are spec-pinned on
    * closed-form fixtures (cliques survive, trees peel to nothing). */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 1000): DataFrame = {
    require(k >= 1, "kCore needs k >= 1")
    var und = undirected(edges).transform(Layout.pin(_))
    var prev = und.count()
    var done = prev == 0
    var it = 0
    while (!done && it < maxIter) {
      val deg = und.select(col("a").as("node"))
        .unionAll(und.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("__d"))
      val keep = deg.filter(col("__d") >= k).select("node")
      val pruned = und
        .join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .transform(Layout.pin(_))
      val now = pruned.count()
      done = now == prev || now == 0
      prev = now
      und = pruned
      it += 1
    }
    // a silent truncation would return a NON-core (long chains peel
    // one layer per round, so rounds can approach |V|/2) — refuse
    // instead, the CC convergence contract
    require(done,
      s"kCore did not reach its fixpoint in $maxIter rounds; raise maxIter")
    und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .distinct()
  }

  /** Core number of EVERY node in ONE fixpoint — the single-pass
    * core decomposition that makes [[kCore]]'s per-k peel
    * unnecessary when more than one k is wanted: run this once,
    * then every k-core is a filter ([[kCoreFromCores]]).
    *
    * Algorithm: distributed H-index iteration (Lü, Zhou, Zhang,
    * Stanley, "The H-index of a network node and its relation to
    * degree and coreness", Nature Communications 2016 — public).
    * c₀(v) = deg(v); cₜ₊₁(v) = H({cₜ(u) : u ∼ v}), the largest h
    * such that at least h neighbors currently hold value ≥ h. The
    * sequence is monotone non-increasing and converges exactly to
    * the coreness. Each round is ONE adjacency⋈values key join, one
    * per-node window rank (partitioned by node — parallel, never a
    * global sort), one agg, and a bounded one-scalar convergence
    * count — same per-round shuffle budget as a PageRank iteration,
    * and strictly fewer rounds than chaining [[kCore]] over k.
    * Isolated nodes never enter the edge list and are the caller's
    * zero-fill, as in [[degrees]]. */
  def coreNumbers(edges: DataFrame, maxIter: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val und = undirected(edges).transform(Layout.pin(_))
    val adj = und.select(col("a").as("node"), col("b").as("nbr"))
      .unionAll(und.select(col("b").as("node"), col("a").as("nbr")))
      .transform(Layout.pin(_))
    var cur = adj.groupBy("node").agg(count(lit(1)).as("core"))
      .transform(Layout.pin(_))
    var it = 0
    var done = adj.isEmpty
    while (!done && it < maxIter) {
      val nb = adj.join(
        cur.select(col("node").as("nbr"), col("core").as("__c")), Seq("nbr"))
      val w = Window.partitionBy("node")
        .orderBy(col("__c").desc, col("nbr"))
      val h = nb.withColumn("__rn", row_number().over(w).cast("long"))
        .groupBy("node").agg(max(least(col("__rn"), col("__c"))).as("core"))
      // fold the convergence probe INTO the pinned frame (r17): joining
      // the previous values before the localCheckpoint makes the
      // per-round "changed" count a scan of pinned local blocks instead
      // of a second join job per round. H-update arithmetic untouched.
      val next = h
        .join(cur.withColumnRenamed("core", "__prev"), Seq("node"))
        .transform(Layout.pin(_))
      // convergence = zero nodes moved; the H-sequence is monotone
      // non-increasing so "changed" is exactly "decreased"
      val changed = next.filter(col("core") =!= col("__prev")).count()
      done = changed == 0
      cur = next.select("node", "core")
      it += 1
    }
    require(done,
      s"coreNumbers did not converge in $maxIter rounds; raise maxIter")
    cur
  }

  /** k-core membership derived from [[coreNumbers]] output: a plain
    * filter, no peeling — the shape to use when several k values (or
    * the whole decomposition) are wanted from one job. Spec-equal to
    * [[kCore]]'s iterative peel (GraphSpec). */
  def kCoreFromCores(cores: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "kCoreFromCores needs k >= 1")
    cores.filter(col("core") >= k).select("node")
  }

  /** Per-node triangle participation + local clustering coefficient:
    * (node, deg, tri, clust) over the undirected graph, coefficient
    * = 2·tri / (deg·(deg−1)) for deg ≥ 2 else 0.
    *
    * Enumeration is the degree-ORIENTED wedge join (the standard
    * MPC-model trick, e.g. Suri & Vassilvitskii's MR triangle
    * counting, public): orient every edge from the (degree, id)-
    * smaller endpoint to the larger, enumerate out-wedges (u→v, u→w
    * with v before w in that order), and close them against the
    * oriented edge list. Orientation bounds out-degree by O(√m), so
    * the wedge fan-out per node is O(m) total and a celebrity hub
    * never enumerates its quadratic neighbor pairs — with id-only
    * orientation one hub with 10^6 in-links would emit 10^12 wedges.
    * Each triangle is produced exactly once, so the result is
    * orientation-independent (the oracle enumerates by plain id
    * order and matches). Three key-equality joins, no cartesian. */
  def triangles(edges: DataFrame, nodes: DataFrame, node: Column): DataFrame = {
    // und feeds the degree agg AND the orientation join's base; the
    // oriented table o is consumed THREE times (two wedge sides + the
    // closing probe) — pin both or the wedge join rebuilds the whole
    // orientation pipeline per consumer (the 2^k branch trap)
    val und = undirected(edges).transform(Layout.pin(_))
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // total orientation key: degree-major, id-minor (ids < 2^31)
    val key = (d: Column, v: Column) => d * lit(1L << 32) + v
    val o = und
      .join(deg.select(col("node").as("a"), col("deg").as("__da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("__db")), Seq("b"))
      .select(
        when(key(col("__da"), col("a")) < key(col("__db"), col("b")),
          struct(col("a").as("u"), col("b").as("v"),
            key(col("__db"), col("b")).as("kv")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"),
            key(col("__da"), col("a")).as("kv"))).as("__e"))
      .select(col("__e.u").as("u"), col("__e.v").as("v"), col("__e.kv"))
      .transform(Layout.pin(_))
    val wedges = o.select(col("u"), col("v"), col("kv"))
      .join(o.select(col("u"), col("v").as("w"), col("kv").as("kw")),
        Seq("u"))
      .filter(col("kv") < col("kw"))
    val closed = wedges.join(
      o.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"))
    val perNode = closed
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
    nodes.select(node.cast("long").as("node"))
      .join(deg, Seq("node"), "left")
      .join(perNode, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("deg"), lit(0L)).as("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"))
      .withColumn("clust",
        when(col("deg") >= 2,
          (lit(2.0) * col("tri").cast("double")) /
            (col("deg").cast("double") * (col("deg").cast("double") - lit(1.0))))
          .otherwise(lit(0.0)))
  }
}
