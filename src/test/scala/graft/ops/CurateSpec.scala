package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** One fixture per funnel stage: first-drop-wins attribution, exact
  * dedup keep-first among filter survivors, optional near-dup cluster
  * keep-first, and kept() row preservation. */
class CurateSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val goodEn =
    "the quick brown fox jumps over a lazy dog and then it runs down to " +
    "the wide river with great speed because that is what young foxes do " +
    "in the early morning when light spreads across the quiet valley and " +
    "birds begin to call from tall trees near the old stone bridge while " +
    "farmers walk out to their green fields carrying baskets of fresh " +
    "seed for the long day of honest work ahead of them all"
  private val goodEn2 =
    "a gentle wind moved through the open window of the small house and " +
    "carried with it the warm smell of bread from the bakery on the " +
    "corner where people gathered each morning to talk about the news of " +
    "the town and share stories of their children who played together in " +
    "the dusty square under the watchful eyes of the old men sitting on " +
    "wooden benches beside the fountain in the middle of everything"
  private val german =
    "der alte hund und die junge katze sind mit dem kind von dem haus zu " +
    "dem garten gegangen und das wetter ist heute sehr gut weil die sonne " +
    "mit voller kraft von dem blauen himmel scheint und der wind ist " +
    "ruhig und das gras ist weich und die kinder spielen mit dem ball und " +
    "der vater ist mit der mutter von der arbeit gekommen und das essen " +
    "ist warm und die familie ist zufrieden mit dem langen schoenen tag"

  private def run(rows: Seq[(Long, String)],
      cfg: Curate.Config = Curate.Config()): Map[Long, String] = {
    import spark.implicits._
    Curate.ledger(rows.toDF("doc_id", "text"), col("text"), col("doc_id"), cfg)
      .select("doc_id", "stage").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
  }

  test("each stage fires first-drop-wins; exact dup keeps the min id") {
    val rows = Seq(
      1L -> goodEn,                                  // kept
      2L -> "1234 5678 9999 @@@@ #### 0000",         // quality floor
      3L -> ("spam " * 90).trim,                     // passes quality, top2 ~1
      4L -> german,                                  // good but not in allowlist
      5L -> goodEn2,                                 // kept (first copy)
      6L -> goodEn2,                                 // exact dup of 5
      7L -> (null: String))                          // null text → invalid
    val got = run(rows)
    assert(got(1L) === "kept")
    assert(got(2L) === "quality")
    assert(got(3L) === "repetition")
    assert(got(4L) === "lang")
    assert(got(5L) === "kept")
    assert(got(6L) === "exact_dup")
    assert(got(7L) === "invalid") // not silently "kept" via null scores
  }

  test("near-dup stage drops cluster members above the min id") {
    val nearCopy = goodEn.replace("quick", "swift") // high jaccard, not exact
    val got = run(Seq(1L -> goodEn, 2L -> nearCopy, 3L -> goodEn2),
      Curate.Config(nearDupThreshold = Some(0.5)))
    assert(got(1L) === "kept")
    assert(got(2L) === "near_dup")
    assert(got(3L) === "kept")
  }

  test("perplexity stage drops the corpus-atypical survivor, runs last") {
    import spark.implicits._
    // many near-identical good docs pin the corpus statistics; one doc
    // passes every scalar filter but has atypical transitions
    val normals = (10L until 40L).map(i => i -> goodEn.replace("fox",
      if (i % 2 == 0) "fox" else "hound"))
    val weird = goodEn.split(" ").reverse.mkString(" ") // same words, reversed order
    val rows = normals ++ Seq(1L -> weird, 2L -> german)
    // threshold between the normals' NLL and the reversed doc's NLL
    val df = rows.toDF("doc_id", "text")
    val pool = Curate.ledger(df, col("text"), col("doc_id"))
      .filter(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(pool.contains(1L), "reversed doc passes the scalar filters")
    val nll = LangModel.scoreBigram(
        df.join(pool.toSeq.toDF("doc_id"), Seq("doc_id")),
        col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val thr = (nll.filterKeys(_ != 1L).values.max + nll(1L)) / 2
    assert(nll(1L) > nll.filterKeys(_ != 1L).values.max,
      "reversed transitions must score atypical")
    val got = run(rows, Curate.Config(maxNll = Some(thr)))
    assert(got(1L) === "perplexity")
    assert(got(2L) === "lang", "perplexity runs AFTER the scalar stages")
    assert(normals.forall(n => got(n._1) === "kept" || got(n._1) === "exact_dup"))
  }

  test("plan: one scan, one window exchange, no branch-and-union") {
    import spark.implicits._
    val docs = Seq((1L, goodEn)).toDF("doc_id", "text")
    val ledger = Curate.ledger(docs, col("text"), col("doc_id"))
    ledger.collect() // finalize the adaptive plan before inspecting it
    // AQE toString renders Final + Initial sections — count the final only
    val plan = ledger.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Union"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).length === 1, plan)
    assert("LocalTableScan".r.findAllIn(plan).length === 1, plan)
  }

  test("leakSafeSplit: no near-dup pair straddles the split; fraction tracks evalFrac") {
    import spark.implicits._
    // realistic corpus slice: planted near-dup families would also
    // work, but the real one already HAS near-dups (sf0.001 documents)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val split = Curate.leakSafeSplit(docs, col("text"), col("doc_id"),
      evalFrac = 0.2, seed = 7).localCheckpoint(true)
    assert(split.count() === docs.count(), "every doc gets a verdict")
    // the invariant that defines the operator: recompute the SAME pair
    // set and assert zero pairs straddle train/eval
    val pairs = Dedup.minhashLSH(
      docs.select(col("doc_id"), col("text")), col("text"), col("doc_id"),
      shingleK = 3, numHashes = 128, bands = 32, jaccardThreshold = 0.5)
    val lab = split.select(col("doc_id"), col("split"))
    val straddle = pairs
      .join(lab.withColumnRenamed("doc_id", "id_a")
        .withColumnRenamed("split", "sa"), Seq("id_a"))
      .join(lab.withColumnRenamed("doc_id", "id_b")
        .withColumnRenamed("split", "sb"), Seq("id_b"))
      .filter(col("sa") =!= col("sb")).count()
    assert(pairs.count() > 0, "fixture must actually contain near-dups")
    assert(straddle === 0L, "a near-dup pair crossed the train/eval split")
    // cluster-level uniform selection ⇒ document fraction near 0.2
    val evalFrac = split.filter(col("split") === "eval").count().toDouble /
      split.count()
    assert(evalFrac > 0.1 && evalFrac < 0.3, s"eval fraction $evalFrac")
    // exact dups (jaccard 1) are pairs too: plant one and re-split
    val planted = docs.select(col("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    val ps = Curate.leakSafeSplit(planted, col("text"), col("doc_id"),
        evalFrac = 0.2, seed = 7)
      .filter(col("doc_id") === 0 || col("doc_id") === 100000L)
      .select("split").distinct().count()
    assert(ps === 1L, "an exact dup and its source must share a side")
  }

  test("leakSafeSplitBalanced: zero straddle; eval mass in [target, target+maxCluster)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val split = Curate.leakSafeSplitBalanced(docs, col("text"),
      col("doc_id"), evalFrac = 0.2, seed = 7).localCheckpoint(true)
    assert(split.count() === docs.count(), "every doc gets a verdict")
    // leakage invariant is inherited: same pair set, zero straddle
    val pairs = Dedup.minhashLSH(
      docs.select(col("doc_id"), col("text")), col("text"), col("doc_id"),
      shingleK = 3, numHashes = 128, bands = 32, jaccardThreshold = 0.5)
    val lab = split.select(col("doc_id"), col("split"))
    val straddle = pairs
      .join(lab.withColumnRenamed("doc_id", "id_a")
        .withColumnRenamed("split", "sa"), Seq("id_a"))
      .join(lab.withColumnRenamed("doc_id", "id_b")
        .withColumnRenamed("split", "sb"), Seq("id_b"))
      .filter(col("sa") =!= col("sb")).count()
    assert(straddle === 0L, "a near-dup pair crossed the balanced split")
    // the guarantee that distinguishes balanced from plain: greedy
    // fill in hash order bounds the realized eval DOCUMENT mass to
    // [target, target + heaviest cluster) — deterministic, not
    // binomial-noisy
    val total = split.count()
    val evalN = split.filter(col("split") === "eval").count()
    val target = 0.2 * total
    val maxMass = split.groupBy("cluster").count()
      .agg(max("count")).head().getLong(0)
    assert(evalN.toDouble >= target - 1e-9,
      s"eval mass $evalN under target $target")
    assert(evalN.toDouble < target + maxMass,
      s"eval mass $evalN overshot target $target by more than one cluster ($maxMass)")
  }

  test("cluster store: both split shapes from stored labels == inline funnel runs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = graft.TempDirs.create("graft_splitcc").toString
    Curate.buildClusterStore(docs, col("text"), col("doc_id"), dir)
    val labels = spark.read.parquet(dir)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, String)] =
      df.select("doc_id", "cluster", "split").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq.sorted
    assert(rows(Curate.leakSafeSplitFromLabels(docs, col("doc_id"), labels,
        evalFrac = 0.2, seed = 7)) ===
      rows(Curate.leakSafeSplit(docs, col("text"), col("doc_id"),
        evalFrac = 0.2, seed = 7)),
      "plain split from stored labels diverged from the inline funnel")
    assert(rows(Curate.leakSafeSplitBalancedFromLabels(docs, col("doc_id"),
        labels, evalFrac = 0.2, seed = 7)) ===
      rows(Curate.leakSafeSplitBalanced(docs, col("text"), col("doc_id"),
        evalFrac = 0.2, seed = 7)),
      "balanced split from stored labels diverged from the inline funnel")
  }

  test("adaptiveQualityKept: per-source survival >= 1-pct; cutoff join broadcasts") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val kept = Curate.adaptiveQualityKept(docs, col("text"), col("doc_id"),
      col("source"), pct = 0.1).localCheckpoint(true)
    // >= because keep is at-or-ABOVE the interpolated quantile and
    // score ties cluster: never drop more than the pct fraction
    val bySrc = docs.groupBy("source").count()
      .withColumnRenamed("count", "n_total")
      .join(kept.groupBy("source").count()
        .withColumnRenamed("count", "n_kept"), Seq("source"))
    val violations = bySrc
      .filter(col("n_kept").cast("double") < col("n_total") * 0.9 - 1).count()
    assert(violations === 0L, "a source lost more than pct of its docs")
    assert(kept.count() < docs.count(), "the gate must actually drop docs")
    // the corpus never shuffles: the cutoff table is broadcast
    val plan = Curate.adaptiveQualityKept(docs, col("text"), col("doc_id"),
      col("source"), pct = 0.1).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("kept() preserves original rows exactly for keep=true ids") {
    import spark.implicits._
    val docs = Seq((1L, goodEn, "m1"), (4L, german, "m4"))
      .toDF("doc_id", "text", "meta")
    val kept = Curate.kept(docs, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(kept === Seq((1L, "m1")))
  }
}
