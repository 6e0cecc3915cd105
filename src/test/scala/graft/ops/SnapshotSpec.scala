package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Delta classification semantics on a planted snapshot pair, and
  * the reprocess feed's added|changed-only contract. */
class SnapshotSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  // 1 unchanged, 2 changed, 3 removed, 4 added
  private def fixture = (
    Seq((1L, "same text"), (2L, "old text"), (3L, "gone")).toDF("doc_id", "text"),
    Seq((1L, "same text"), (2L, "new text"), (4L, "fresh")).toDF("doc_id", "text"))

  test("delta classifies all four statuses off fingerprints") {
    val (o, n) = fixture
    val d = Snapshot.delta(o, n, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d === Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("fingerprints are null exactly on the absent side") {
    val (o, n) = fixture
    val d = Snapshot.delta(o, n, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> ((r.isNullAt(2), r.isNullAt(3)))).toMap
    assert(d(3L) === ((false, true)))
    assert(d(4L) === ((true, false)))
    assert(d(1L) === ((false, false)))
  }

  test("reprocess feed carries new-snapshot content for added|changed only") {
    val (o, n) = fixture
    val f = Snapshot.reprocessFeed(o, n, col("doc_id"), col("text"))
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("text"), r.getAs[String]("status"))).toSet
    assert(f === Set((2L, "new text", "changed"), (4L, "fresh", "added")))
  }

  test("a byte-identical re-crawl is unchanged, whitespace edits are not") {
    val o = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    val n = Seq((1L, "a b"), (2L, "a  b")).toDF("doc_id", "text")
    val d = Snapshot.delta(o, n, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d === Map(1L -> "unchanged", 2L -> "changed"))
  }
  test("plan: only (id, fingerprint) reaches the full-outer exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val (o, n) = fixture
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Snapshot.delta(o, n, col("doc_id"), col("text"))
        .queryExecution.executedPlan
      val ex = plan.collect { case e: ShuffleExchangeExec => e }
      assert(ex.size === 2, plan.toString)
      // text is fingerprinted BELOW the shuffle: the exchanged rows
      // are (id, 16-byte fp), never the content column
      ex.foreach(e => assert(
        e.output.map(_.name).toSet.subsetOf(Set("id", "old_fp", "new_fp")),
        e.output.mkString(",")))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
  test("indexed delta == inline delta; advanceStore settles the diff") {
    val (o, n) = fixture
    val dir = graft.TempDirs.create("snapfp").toString
    val store = dir + "/fp"
    Snapshot.buildFingerprintStore(o, col("doc_id"), col("text"), store)
    val inline = Snapshot.delta(o, n, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val indexed = Snapshot.deltaAgainstStore(spark, store, n,
        col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(indexed === inline)
    // after advancing the store to the new snapshot, a re-diff of the
    // same crawl reports nothing but 'unchanged'
    Snapshot.advanceStore(n, col("doc_id"), col("text"), store)
    val settled = Snapshot.deltaAgainstStore(spark, store, n,
        col("doc_id"), col("text"))
      .collect().map(r => r.getString(1)).toSet
    assert(settled === Set("unchanged"))
  }
  test("streaming appender is replay-idempotent on the sink") {
    val (o, n) = fixture
    val dir = graft.TempDirs.create("snapstream").toString
    val store = dir + "/fp"; val out = dir + "/out"
    Snapshot.buildFingerprintStore(o, col("doc_id"), col("text"), store)
    Snapshot.appendDeltaAgainst(spark, store, out, n, col("doc_id"),
      col("text"))
    val once = spark.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    // a replayed micro-batch appends nothing new
    Snapshot.appendDeltaAgainst(spark, store, out, n, col("doc_id"),
      col("text"))
    val twice = spark.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(once === twice)
    // stream-side classification: no 'removed' (absent ids never arrive)
    assert(once.map(_._2).toSet === Set("added", "changed", "unchanged"))
  }
  test("plan: BUCKETED fingerprint stores diff with zero exchanges") {
    // the 100 TB claim made concrete: two snapshot fingerprint tables
    // bucketed+sorted by id join full-outer with NO shuffle and NO
    // sort - the co-located daily-diff layout
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.md5
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val dir = graft.TempDirs.create("snapbkt").toString
    val tag = System.nanoTime()
    try {
      import spark.implicits._
      def fp(df: org.apache.spark.sql.DataFrame, name: String, path: String) =
        df.select(col("doc_id").cast("long").as("id"),
            md5(col("text").cast("binary")).as("fp"))
          .write.bucketBy(8, "id").sortBy("id")
          .option("path", path).saveAsTable(name)
      val o = (0L until 200L).map(i => (i, s"text $i")).toDF("doc_id", "text")
      val n = (100L until 300L).map(i => (i, s"text${i % 7} $i"))
        .toDF("doc_id", "text")
      fp(o, s"fp_old_$tag", dir + "/old"); fp(n, s"fp_new_$tag", dir + "/new")
      val j = spark.table(s"fp_old_$tag")
        .join(spark.table(s"fp_new_$tag")
          .withColumnRenamed("fp", "fp2"), Seq("id"), "full_outer")
      val plan = j.queryExecution.executedPlan
      val ex = plan.collect { case e: ShuffleExchangeExec => e }
      assert(ex.isEmpty, plan.toString)
      assert(j.count() === 300L)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS fp_old_$tag")
      spark.sql(s"DROP TABLE IF EXISTS fp_new_$tag")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
  test("in-batch duplicate ids append once, deterministically") {
    val (o, _) = fixture
    val dir = graft.TempDirs.create("snapdup").toString
    val store = dir + "/fp"; val out = dir + "/out"
    Snapshot.buildFingerprintStore(o, col("doc_id"), col("text"), store)
    import spark.implicits._
    // id 2 re-delivered twice with different payloads in ONE batch
    val batch = Seq((2L, "retry one"), (2L, "retry two"), (4L, "fresh"))
      .toDF("doc_id", "text")
    Snapshot.appendDeltaAgainst(spark, store, out, batch,
      col("doc_id"), col("text"))
    val rows = spark.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(2L, 4L), "one row per id")
    assert(rows.toMap.apply(2L) === "changed")
  }
}
