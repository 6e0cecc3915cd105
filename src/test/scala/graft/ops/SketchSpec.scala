package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Count-min contracts: one-sided error (never undercounts), additive
  * shard merging, and a shuffle-free estimate plan. */
class SketchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val D = 4
  val W = 1024L

  private def stream = {
    import spark.implicits._
    // zipf-ish: key i appears ~200/i times
    (1 to 60).flatMap(i => Seq.fill(200 / i)(s"k$i")).toDF("k")
  }

  test("estimates never undercount, and overcount stays within eN") {
    import spark.implicits._
    val sk = Sketch.countMinFit(stream, col("k"), D, W, seed = 9L)
    val truth = stream.groupBy("k").agg(count(lit(1)).as("n_true"))
    val est = Sketch.countMinEstimate(truth, col("k"), sk, D, W, seed = 9L)
      .collect()
    val n = stream.count()
    est.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1), r.toString) // one-sided
      // eps = e/W; slack 3x for the small grid
      assert(r.getLong(2) - r.getLong(1) <= 3 * math.E / W * n + 1,
        r.toString)
    }
  }

  test("weighted fit equals unweighted fit over multiplicity-exploded rows") {
    import spark.implicits._
    val weighted = Seq(("a", 5L), ("b", 2L), ("c", 1L), ("a", 3L))
      .toDF("k", "w")
    val exploded = Seq.fill(8)("a") ++ Seq.fill(2)("b") ++ Seq("c")
    val wGrid = Sketch.countMinFit(weighted, col("k"), D, W, seed = 9L,
      weight = col("w")).orderBy("r", "c").collect().toSeq
    val eGrid = Sketch.countMinFit(exploded.toDF("k"), col("k"), D, W,
      seed = 9L).orderBy("r", "c").collect().toSeq
    assert(wGrid === eGrid)
  }

  test("shard sketches union-merge by summing cells") {
    import spark.implicits._
    val all = stream
    val a = all.filter(xxhash64(col("k")) % 2 === 0)
    val b = all.filter(xxhash64(col("k")) % 2 =!= 0)
    val merged = Sketch.countMinFit(a, col("k"), D, W, seed = 9L)
      .union(Sketch.countMinFit(b, col("k"), D, W, seed = 9L))
      .groupBy("r", "c").agg(sum("n").as("n"))
      .orderBy("r", "c").collect().toSeq
    val whole = Sketch.countMinFit(all, col("k"), D, W, seed = 9L)
      .orderBy("r", "c").collect().toSeq
    assert(merged === whole)
  }

  test("streamed sketch equals the batch sketch; replays are exactly-once") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = graft.TempDirs.create("cms").toString
    val store = s"$dir/sketch"
    val mem = MemoryStream[String]
    val q = graft.streaming.StreamingIngest.foreachBatch(
        mem.toDF().select(col("value").as("k")), s"$dir/ckpt")(
      (b, id) => Sketch.countMinAppend(b, col("k"), D, W, store, id, seed = 9L))
    val data = stream.collect().map(_.getString(0)).toSeq
    mem.addData(data.take(300): _*); q.processAllAvailable()
    mem.addData(data.drop(300): _*); q.processAllAvailable()
    q.stop()
    // batch 0 appended again by hand = a replayed micro-batch
    Sketch.countMinAppend(data.take(300).toDF("k"), col("k"), D, W, store, 0L,
      seed = 9L)
    val live = Sketch.countMinLoad(spark, store)
      .orderBy("r", "c").collect().toSeq
    val batch = Sketch.countMinFit(stream, col("k"), D, W, seed = 9L)
      .orderBy("r", "c").collect().toSeq
    assert(live === batch)
    // compaction preserves the grid and collapses to one partition
    Sketch.compactCountMin(spark, store)
    assert(Sketch.countMinLoad(spark, store)
      .orderBy("r", "c").collect().toSeq === batch)
  }

  test("compaction over an interrupted compaction's leftover counts each batch once") {
    import spark.implicits._
    val dir = graft.TempDirs.create("cmsleft").toString
    val store = s"$dir/sketch"
    val data = stream.collect().map(_.getString(0)).toSeq
    Sketch.countMinAppend(data.take(300).toDF("k"), col("k"), D, W, store, 0L, seed = 9L)
    Sketch.countMinAppend(data.drop(300).toDF("k"), col("k"), D, W, store, 1L, seed = 9L)
    // a compaction stopped mid-write left a batch grid in its temp dir
    Sketch.countMinAppend(data.take(300).toDF("k"), col("k"), D, W,
      s"$dir/.sketch-tmp", 7L, seed = 9L)
    Sketch.compactCountMin(spark, store)
    val batch = Sketch.countMinFit(stream, col("k"), D, W, seed = 9L)
      .orderBy("r", "c").collect().toSeq
    assert(Sketch.countMinLoad(spark, store).orderBy("r", "c").collect().toSeq === batch)
    assert(new java.io.File(store).list().filter(_.startsWith("batch=")).toSeq
      === Seq("batch=-1"))
  }

  test("streaming top-k over the CMS store recovers the exact top set") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = graft.TempDirs.create("cmstopk").toString
    val store = s"$dir/store"
    val data = stream.collect().map(_.getString(0)).toSeq
    val mem = MemoryStream[String]
    val q = graft.streaming.StreamingIngest.foreachBatch(
        mem.toDF().select(col("value").as("k")), s"$dir/ckpt")(
      (b, id) => Sketch.topKAppend(b, col("k"), D, W, k = 10, store, id, seed = 9L))
    mem.addData(data.take(400): _*); q.processAllAvailable()
    mem.addData(data.drop(400): _*); q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(s"$store/topk")
      .orderBy("rank").collect().map(r => (r.getString(0), r.getLong(1)))
    // W=1024 over ~60 keys: no practical collisions, so the streamed
    // ranking equals the exact one including counts
    val exact = stream.groupBy("k").count()
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (key, n) => (-n, key) }.take(10)
    assert(got.toSeq === exact.toSeq)
    // replaying batch 0's grid write changes nothing downstream
    Sketch.countMinAppend(data.take(400).toDF("k"), col("k"), D, W,
      s"$store/sketch", 0L, seed = 9L)
    val rescored = Sketch.countMinTopK(
      spark.read.parquet(s"$store/topk").select("key"), col("key"),
      Sketch.countMinLoad(spark, s"$store/sketch"), D, W, 10, seed = 9L)
      .orderBy("rank").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rescored.toSeq === exact.toSeq)
  }

  test("hll: estimates within the register error bound; shard merge is identical") {
    import spark.implicits._
    val rows = (1 to 20000).map(i => (s"g${i % 3}", s"v${i % (700 * (1 + i % 3))}"))
      .toDF("g", "k")
    val est = Sketch.hllEstimate(Sketch.hllFit(rows, col("k"), Seq("g")),
      Seq("g")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = rows.distinct().groupBy("g").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (g, n) =>
      assert(math.abs(est(g) - n) <= 0.05 * n + 2, s"$g est=${est(g)} n=$n")
    }
    // shard-fit + union must stay within the same error bound as the
    // whole fit (DataSketches unions are estimate-equivalent, not
    // register-identical: sparse->dense promotion paths differ)
    val a = Sketch.hllFit(rows.filter(xxhash64(col("k")) % 2 === 0),
      col("k"), Seq("g"))
    val b = Sketch.hllFit(rows.filter(xxhash64(col("k")) % 2 =!= 0),
      col("k"), Seq("g"))
    val merged = Sketch.hllEstimate(a.unionAll(b), Seq("g"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (g, n) =>
      assert(math.abs(merged(g) - n) <= 0.05 * n + 2,
        s"$g merged=${merged(g)} n=$n")
    }
  }

  test("hll: streamed per-batch registers equal the batch fit; replays exactly-once") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = graft.TempDirs.create("hll").toString
    val store = s"$dir/sketch"
    val rows = (1 to 3000).map(i => (s"g${i % 2}", s"v${i % 800}"))
    val mem = MemoryStream[(String, String)]
    val q = graft.streaming.StreamingIngest.foreachBatch(
        mem.toDF().toDF("g", "k"), s"$dir/ckpt")(
      (b, id) => Sketch.hllAppend(b, col("k"), Seq("g"), store, id))
    mem.addData(rows.take(1500): _*); q.processAllAvailable()
    mem.addData(rows.drop(1500): _*); q.processAllAvailable()
    q.stop()
    def live() = Sketch.hllEstimate(Sketch.hllLoad(spark, store, Seq("g")),
      Seq("g")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val before = live()
    // replay batch 0 by hand — the overwrite must not change anything
    Sketch.hllAppend(rows.take(1500).toDF("g", "k"), col("k"), Seq("g"),
      store, 0L)
    assert(live() === before)
    // and the streamed registers track the true cardinality
    val exact = rows.toDF("g", "k").distinct().groupBy("g").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (g, n) =>
      assert(math.abs(before(g) - n) <= 0.05 * n + 2,
        s"$g live=${before(g)} n=$n")
    }
  }

  test("empty inputs degrade to empty/zero, never to errors") {
    import spark.implicits._
    val none = Seq.empty[String].toDF("k")
    val some = Seq("a", "b").toDF("k")
    // empty fit -> empty grid; estimates against it are all 0
    val emptyGrid = Sketch.countMinFit(none, col("k"), D, W)
    assert(emptyGrid.count() === 0L)
    val est = Sketch.countMinEstimate(some, col("k"), emptyGrid, D, W)
      .collect().map(_.getLong(1))
    assert(est.toSeq === Seq(0L, 0L))
    // empty bloom admits nothing
    val emptyBloom = Bloom.fit(none, col("k"), 1024L, 3)
    assert(Bloom.mightContain(some, col("k"), emptyBloom, 1024L, 3)
      .count() === 0L)
    // empty edit-distance corpus and empty classifier eval are empty/zero
    assert(EditDistance.editPairs(Seq.empty[(Long, String)].toDF("id", "s"),
      col("s"), col("id"), 2).count() === 0L)
    val ev = Classify.evalBinary(
      Seq.empty[(Long, Long)].toDF("y", "pred"), col("y")).head()
    assert(ev.getLong(0) === 0L && ev.getDouble(4) === 0.0)
  }

  test("estimate plan is shuffle-free against a materialized sketch") {
    import spark.implicits._
    val sk = Sketch.countMinFit(stream, col("k"), D, W, seed = 9L)
    val grid = sk.collect().toSeq
    val l = new java.util.ArrayList[org.apache.spark.sql.Row](grid.size)
    grid.foreach(l.add)
    val mat = spark.createDataFrame(l, sk.schema)
    val plan = Sketch.countMinEstimate(stream.limit(5), col("k"), mat, D, W,
      seed = 9L).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }
}
