package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** PageRank semantics against hand-computed values, the Σrank = 1
  * mass-conservation invariant (which fails the moment dangling
  * redistribution is wrong), degree zero-fill, and the portability
  * contract of the derived link graph. */
class GraphSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  // 0→{1,2}, 1→{2}; nodes 2 and 3 dangle. Hand-computed iteration 1
  // (d=0.85, N=4): dangling mass 0.5; contribs 1←0.125, 2←0.375;
  // base (1−d)/N = 0.0375, redistributed 0.85·0.5/4 = 0.10625.
  private def fixture = (
    Seq((0L, 1L), (0L, 2L), (1L, 2L)).toDF("src", "dst"),
    Seq(0L, 1L, 2L, 3L).toDF("node"))

  test("one iteration matches the closed-form values") {
    val (edges, nodes) = fixture
    val r = Graph.pageRank(edges, nodes, col("node"), iters = 1)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(r(0L) - 0.14375) < 1e-8)
    assert(math.abs(r(1L) - 0.25) < 1e-8)
    assert(math.abs(r(2L) - 0.4625) < 1e-8)
    assert(math.abs(r(3L) - 0.14375) < 1e-8)
  }

  test("rank mass stays 1 across eagerly-pinned iterations") {
    val (edges, nodes) = fixture
    val total = Graph.pageRank(edges, nodes, col("node"), iters = 7)
      .agg(sum(col("rank"))).collect()(0).getDouble(0)
    assert(math.abs(total - 1.0) < 1e-6)
  }

  test("a sink-heavy hub ranks above its spokes") {
    // star: every spoke points at node 0
    val edges = (1L to 9L).map(i => (i, 0L)).toDF("src", "dst")
    val nodes = (0L to 9L).toDF("node")
    val r = Graph.pageRank(edges, nodes, col("node"), iters = 10)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(0L) > 5 * r(1L))
    assert((1L to 9L).map(r).distinct.size === 1)
  }

  test("degrees zero-fill nodes absent from the edge list") {
    val (edges, nodes) = fixture
    val d = Graph.degrees(edges, nodes, col("node"))
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(d(0L) === ((2L, 0L)))
    assert(d(1L) === ((1L, 1L)))
    assert(d(2L) === ((0L, 2L)))
    assert(d(3L) === ((0L, 0L)))
  }

  test("linkGraph is deterministic, self-loop-free, in-range") {
    val docs = (0L until 40L).toDF("doc_id")
    val e1 = Graph.linkGraph(docs, col("doc_id"), nNodes = 40L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val e2 = Graph.linkGraph(docs, col("doc_id"), nNodes = 40L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e1 === e2)
    assert(e1.forall { case (s, d) => s != d && d >= 0 && d < 40 })
    // fanout 3 minus collisions/self-loops: strictly more than 2 per node
    assert(e1.size > 80 && e1.size <= 120)
  }
  test("one HITS iteration matches the closed-form hub/auth values") {
    val (edges, nodes) = fixture
    val r = Graph.hits(edges, nodes, col("node"), iters = 1)
      .collect().map(x => x.getLong(0) -> ((x.getDouble(1), x.getDouble(2))))
      .toMap
    // a1 raw: 1←1, 2←2, t=3; h1 raw: 0←a(1)+a(2)=1, 1←a(2)=2/3, t=5/3
    assert(math.abs(r(0L)._1 - 0.6) < 1e-8)
    assert(math.abs(r(1L)._1 - 0.4) < 1e-8)
    assert(math.abs(r(1L)._2 - 1.0 / 3) < 1e-8)
    assert(math.abs(r(2L)._2 - 2.0 / 3) < 1e-8)
    assert(r(2L)._1 === 0.0 && r(3L)._1 === 0.0)
    assert(r(0L)._2 === 0.0 && r(3L)._2 === 0.0)
  }

  test("HITS hub and auth masses each stay 1 across iterations") {
    val (edges, nodes) = fixture
    val t = Graph.hits(edges, nodes, col("node"), iters = 5)
      .agg(sum(col("hub")), sum(col("auth"))).collect()(0)
    assert(math.abs(t.getDouble(0) - 1.0) < 1e-6)
    assert(math.abs(t.getDouble(1) - 1.0) < 1e-6)
  }
  test("plan: pageRank iterations never plan a cartesian product") {
    val (edges, nodes) = fixture
    val plan = Graph.pageRank(edges, nodes, col("node"), iters = 2)
      .queryExecution.executedPlan.toString
    // the one-row dangling/total scalars ride BroadcastNestedLoop
    // cross joins by construction; a CartesianProduct would mean a
    // non-broadcast cross got planned
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
  }
  test("triangles: K4 counts, star has none, reverse/parallel edges collapse") {
    import spark.implicits._
    // K4 (as directed edges with a duplicate and a reversal thrown in)
    val k4 = Seq((0L,1L),(0L,2L),(0L,3L),(1L,2L),(1L,3L),(2L,3L),
      (1L,0L),(0L,1L)).toDF("src", "dst")
    val nodes = (0L to 4L).toDF("node")
    val r = Graph.triangles(k4, nodes, col("node"))
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    (0L to 3L).foreach { v =>
      assert(r(v) === ((3L, 3L, 1.0)), s"node $v")
    }
    assert(r(4L) === ((0L, 0L, 0.0)))
    // star: hub with 4 spokes, no closing edges -> zero triangles,
    // and the oriented wedge join must not blow up on the hub
    val star = (1L to 4L).map(i => (0L, i)).toDF("src", "dst")
    val rs = Graph.triangles(star, (0L to 4L).toDF("node"), col("node"))
      .agg(sum(col("tri"))).collect()(0).getLong(0)
    assert(rs === 0L)
  }
  test("PPR: mass conserves, unreachable nodes score zero, seeds localize") {
    import spark.implicits._
    // cycle 0->1->2->0 (no sink accumulation, so rank decays with
    // seed distance); island 3->4 unreachable from seed 0
    val edges = Seq((0L,1L),(1L,2L),(2L,0L),(3L,4L)).toDF("src","dst")
    val nodes = (0L to 4L).toDF("node")
    val seeds = Seq(0L).toDF("node")
    val r = Graph.personalizedPageRank(edges, nodes, col("node"), seeds,
        iters = 4)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-6)
    assert(r(3L) === 0.0 && r(4L) === 0.0,
      "teleport goes to seeds only - the island must stay at zero")
    // mass circulates the seed cycle only (finite-iteration ranks
    // oscillate around the cycle, so no monotone-decay claim here)
    assert(r(0L) > 0 && r(1L) > 0 && r(2L) > 0)
  }

  test("PPR at steady state decays with distance from the seed") {
    import spark.implicits._
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    val nodes = (0L to 2L).toDF("node")
    val seeds = Seq(0L).toDF("node")
    // contraction 0.85^3 per lap: 30 iterations pin the fixed point
    // r0 = 0.15/(1-0.85^3), r1 = 0.85 r0, r2 = 0.85^2 r0
    val r = Graph.personalizedPageRank(edges, nodes, col("node"), seeds,
        iters = 30)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val r0 = 0.15 / (1.0 - math.pow(0.85, 3))
    // contraction 0.614/lap leaves ~5e-3 after 10 laps - the 1e-2
    // bound is tight enough to pin the fixed point (gaps are ~0.05)
    assert(math.abs(r(0L) - r0) < 1e-2)
    assert(math.abs(r(1L) - 0.85 * r0) < 1e-2)
    assert(math.abs(r(2L) - 0.85 * 0.85 * r0) < 1e-2)
    assert(r(0L) > r(1L) && r(1L) > r(2L))
  }
  test("kCore: cliques survive, trees peel away, k=1 keeps non-isolates") {
    import spark.implicits._
    // K4 clique (ids 0-3) + a tree tendril 3->10->11->12
    val edges = (Seq((0L,1L),(0L,2L),(0L,3L),(1L,2L),(1L,3L),(2L,3L)) ++
      Seq((3L,10L),(10L,11L),(11L,12L))).toDF("src","dst")
    val core3 = Graph.kCore(edges, k = 3)
      .collect().map(_.getLong(0)).toSet
    assert(core3 === Set(0L, 1L, 2L, 3L),
      "the K4 clique is the 3-core; the tendril peels")
    // a pure path has no 2-core at all
    val path = (0L until 5L).map(i => (i, i + 1)).toDF("src", "dst")
    assert(Graph.kCore(path, k = 2).count() === 0L)
    // k=1 keeps every non-isolated node
    assert(Graph.kCore(path, k = 1).count() === 6L)
    // a cycle IS its own 2-core
    val cycle = ((0L until 5L).map(i => (i, (i + 1) % 5))).toDF("src", "dst")
    assert(Graph.kCore(cycle, k = 2)
      .collect().map(_.getLong(0)).toSet === (0L until 5L).toSet)
  }
  test("coreNumbers: closed-form fixtures and kCore equality") {
    import spark.implicits._
    // K4 clique (coreness 3) + tendril 3->10->11->12 (coreness 1)
    val edges = (Seq((0L,1L),(0L,2L),(0L,3L),(1L,2L),(1L,3L),(2L,3L)) ++
      Seq((3L,10L),(10L,11L),(11L,12L))).toDF("src","dst")
    val cores = Graph.coreNumbers(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cores === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L,
      10L -> 1L, 11L -> 1L, 12L -> 1L))
    // one decomposition serves every k — filter == per-k peel
    val coresDf = Graph.coreNumbers(edges)
    for (k <- 1 to 4) {
      val fromCores = Graph.kCoreFromCores(coresDf, k)
        .collect().map(_.getLong(0)).toSet
      val peeled = Graph.kCore(edges, k)
        .collect().map(_.getLong(0)).toSet
      assert(fromCores === peeled, s"k=$k decomposition != peel")
    }
    // a cycle is uniformly coreness 2; a path uniformly 1
    val cycle = ((0L until 5L).map(i => (i, (i + 1) % 5))).toDF("src", "dst")
    assert(Graph.coreNumbers(cycle).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
      === (0L until 5L).map(_ -> 2L).toMap)
    val path = (0L until 5L).map(i => (i, i + 1)).toDF("src", "dst")
    assert(Graph.coreNumbers(path).collect()
      .map(_.getLong(1)).toSet === Set(1L))
    // empty edge set: empty decomposition, no blow-up
    assert(Graph.coreNumbers(
      Seq.empty[(Long, Long)].toDF("src", "dst")).count() === 0L)
  }
  test("kCore refuses a truncated fixpoint instead of lying") {
    import spark.implicits._
    // a 12-path at k=2 peels one layer per round from each end:
    // maxIter=2 cannot reach the (empty) fixpoint
    val path = (0L until 12L).map(i => (i, i + 1)).toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      Graph.kCore(path, k = 2, maxIter = 2)
    }
    assert(e.getMessage.contains("fixpoint"))
  }

  test("pin refuses a checkpoint dir that conflicts with the SparkContext's") {
    import spark.implicits._
    val sc = spark.sparkContext
    assume(sc.getCheckpointDir.isEmpty, "another suite set a checkpoint dir")
    val base = graft.TempDirs.create("graft-pin")
    val (ctxDir, confDir) = (base.resolve("ctx"), base.resolve("conf"))
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    try {
      sc.setCheckpointDir(ctxDir.toString)
      spark.conf.set("spark.graft.checkpoint.dir", confDir.toString)
      val e = intercept[IllegalStateException](Graph.kCore(edges, k = 2))
      assert(e.getMessage.contains(confDir.toString), e.getMessage)
      assert(e.getMessage.contains(ctxDir.toString), e.getMessage)
      // the configured dir itself is accepted, and pins into it
      spark.conf.set("spark.graft.checkpoint.dir", ctxDir.toString)
      assert(Graph.kCore(edges, k = 2).count() === 3L)
    } finally {
      spark.conf.unset("spark.graft.checkpoint.dir")
      sc.setCheckpointDir(null)
    }
  }
}
