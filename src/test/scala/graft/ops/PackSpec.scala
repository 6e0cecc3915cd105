package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Layout invariants of the sequence packers: chopped spans tile the
  * shard token stream exactly; greedy bins respect the capacity and
  * first-fit-sequential rule; both are deterministic under physical
  * reordering (the contract a resumable 100 TB packing job needs). */
class PackSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private def docs = spark.range(0, 2000).toDF("doc_id")
    .withColumn("n", (col("doc_id") % 97 + 1).cast("long"))

  test("packChopped: spans tile each shard's token stream with no gaps") {
    val L = 128
    val got = Pack.packChopped(docs, col("doc_id"), col("n"), L, shards = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.length === 2000)
    // reconstruct each shard's stream: orders are disjoint spans whose
    // concatenation is [0, total) — start of doc k = sum of n before it
    got.groupBy(_._2).foreach { case (_, rows) =>
      val inOrder = rows.sortBy(r => (r._4, r._6, r._1)) // (seq_first, off) is stream order
      var cursor = 0L
      inOrder.foreach { case (_, _, n, sf, sl, off) =>
        assert(sf * L + off === cursor, "span must start where the previous ended")
        val end = cursor + n
        assert(sl === (end - 1) / L, "seq_last must cover the span end")
        cursor = end
      }
    }
  }

  test("packGreedy: capacity, first-fit-sequential rule, oversize isolation") {
    val L = 128
    val withBig = docs.union(
      Seq((9001L, 500L), (9002L, 500L)).toDF("doc_id", "n"))
    val got = Pack.packGreedy(withBig, col("doc_id"), col("n"), L, shards = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length === 2002)
    val ord = Pack.packChopped(withBig, col("doc_id"), col("n"), L, shards = 8)
      .select("doc_id", "shard", "seq_first", "off")
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    got.groupBy(_._2).foreach { case (_, rows) =>
      // same md5 order as chopped (stream position is order-faithful)
      val inOrder = rows.sortBy(r => ord(r._1))
      // re-fold the rule: fits -> same bin, else next bin; oversize alone
      var bin = -1L; var fill = 0L
      inOrder.foreach { case (id, _, gotBin, n) =>
        if (bin < 0 || fill + n > L) { bin += 1; fill = n } else fill += n
        assert(gotBin === bin, s"doc $id bin")
      }
      // capacity: every bin with >1 doc fits in L
      inOrder.groupBy(_._3).foreach { case (_, binRows) =>
        if (binRows.length > 1)
          assert(binRows.map(_._4).sum <= L, "multi-doc bins must fit")
      }
      // bins are contiguous from 0
      val bins = rows.map(_._3).distinct.sorted
      assert(bins === (0L until bins.length).toArray)
    }
  }

  test("packGreedy accepts non-numeric ids; appends dedupe in-batch repeats") {
    val sdocs = Seq(("u/alpha", 60L), ("u/beta", 80L), ("u/gamma", 100L),
      ("u/delta", 40L)).toDF("url", "n")
    val packed = Pack.packGreedy(sdocs, col("url"), col("n"), 128, shards = 4)
    assert(packed.schema("doc_id").dataType ===
      org.apache.spark.sql.types.StringType)
    assert(packed.count() === 4)

    val gPath = graft.TempDirs.create("pack_sid").toString
    Pack.buildGreedyLayout(sdocs, col("url"), col("n"), gPath, 128, shards = 4)
    val dup = Seq(("u/new", 50L), ("u/new", 50L)).toDF("url", "n")
    assert(Pack.packGreedyAppend(spark, gPath, dup, col("url"), col("n"))
      .count() === 1, "in-batch repeat must pack once")

    val cPath = graft.TempDirs.create("chop_sid").toString
    Pack.buildChoppedLayout(sdocs, col("url"), col("n"), cPath, 128, shards = 4)
    assert(Pack.packChoppedAppend(spark, cPath, dup, col("url"), col("n"))
      .count() === 1, "in-batch repeat must chop once")
  }

  test("packers are deterministic under physical reordering") {
    val L = 64
    def sig(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val shuffled = docs.repartition(13, col("doc_id") % 7)
    assert(sig(Pack.packGreedy(docs, col("doc_id"), col("n"), L)) ===
      sig(Pack.packGreedy(shuffled, col("doc_id"), col("n"), L)))
    assert(sig(Pack.packChopped(docs, col("doc_id"), col("n"), L)) ===
      sig(Pack.packChopped(shuffled, col("doc_id"), col("n"), L)))
  }

  test("chopManifest: segments tile every document and every sequence") {
    val L = 128
    val man = Pack.chopManifest(docs, col("doc_id"), col("n"), L, shards = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(man.forall(_._6 > 0), "no zero-length segments")
    // per doc: contiguous token ranges summing to n_tokens
    man.groupBy(_._1).foreach { case (id, segs) =>
      val inOrder = segs.sortBy(_._3)
      assert(inOrder.map(_._6).sum === id % 97 + 1, s"doc $id token total")
      var cursor = 0L
      inOrder.foreach { case (_, _, _, tokStart, _, segLen) =>
        assert(tokStart === cursor, s"doc $id contiguity"); cursor += segLen
      }
    }
    // per (shard, seq): segments tile [0, L) — full L except the
    // shard's final sequence, which ends at the stream end
    man.groupBy(m => (m._2, m._3)).foreach { case ((sh, seq), segs) =>
      val lastSeq = man.filter(_._2 == sh).map(_._3).max
      var cursor = 0L
      segs.sortBy(_._5).foreach { case (_, _, _, _, off, segLen) =>
        assert(off === cursor, s"shard $sh seq $seq offset tiling")
        cursor += segLen
      }
      if (seq < lastSeq) assert(cursor === L, s"shard $sh seq $seq full")
      else assert(cursor <= L)
    }
  }

  test("greedy layout append: continues each shard's open bin; idempotent replay") {
    val L = 128
    val storeDocs = docs.filter(col("doc_id") >= 500)
    val inc = docs.filter(col("doc_id") < 500)
    val path = graft.TempDirs.create("pack_layout").toString
    Pack.buildGreedyLayout(storeDocs, col("doc_id"), col("n"), path, L, shards = 8)
    def readLayout() = spark.read.parquet(path + "/layout")
      .select(col("doc_id"), col("shard").cast("long"), col("bin"),
        col("n_tokens"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val stored = readLayout()
    Pack.appendToGreedyLayout(spark, path, inc, col("doc_id"), col("n"))
    val after = readLayout()
    val appended = after.toSet -- stored.toSet
    assert(appended.map(_._1) === (0L until 500L).toSet)

    // the store is shard-partitioned: a one-shard read must prune to
    // one directory, not scan the layout
    val plan = spark.read.parquet(path + "/layout")
      .filter(col("shard") === 3).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("shard"),
      plan.take(2000))

    // reference fold: each shard seeds (last bin, fill) from the store,
    // then the increment folds in md5 order — an independent JVM md5
    // reproduces the operator's order and shard bit-for-bit
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def ord(id: Long) = md5hex(s"$id#0")
    def shardOf(id: Long) = java.lang.Long.parseLong(ord(id).take(2), 16) % 8
    val expected = scala.collection.mutable.Map[Long, Long]()
    (0 until 8).foreach { sh =>
      val st = stored.filter(_._2 == sh)
      var bin = -1L; var fill = 0L
      if (st.nonEmpty) {
        bin = st.map(_._3).max
        fill = st.filter(_._3 == bin).map(_._4).sum
      }
      (0L until 500L).filter(shardOf(_) == sh).sortBy(i => (ord(i), i))
        .foreach { i =>
          val n = i % 97 + 1
          if (bin < 0 || fill + n > L) { bin += 1; fill = n } else fill += n
          expected(i) = bin
        }
    }
    appended.foreach { case (id, _, bin, _) =>
      assert(bin === expected(id), s"doc $id bin")
    }

    // replay: the stored ids anti-join away, nothing re-appends
    assert(Pack.packGreedyAppend(spark, path, inc, col("doc_id"), col("n"))
      .count() === 0L)
  }

  test("chopped layout append: stream continues at each shard's stored total") {
    val L = 128
    val storeDocs = docs.filter(col("doc_id") >= 500)
    val inc = docs.filter(col("doc_id") < 500)
    val path = graft.TempDirs.create("chop_layout").toString
    Pack.buildChoppedLayout(storeDocs, col("doc_id"), col("n"), path, L, shards = 8)
    val appended = Pack.packChoppedAppend(spark, path, inc, col("doc_id"), col("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(appended.map(_._1).toSet === (0L until 500L).toSet)
    // per shard: the appended spans continue contiguously from the
    // stored token total, in md5 order
    val storedTotals = spark.read.parquet(path + "/layout")
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(sum("n_tokens").as("t")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    appended.groupBy(_._2).foreach { case (sh, rows) =>
      var cursor = storedTotals(sh)
      rows.sortBy(r => (r._4, r._6, r._1)).foreach {
        case (_, _, n, sf, sl, off) =>
          assert(sf * L + off === cursor, s"shard $sh continuation")
          cursor += n
          assert(sl === (cursor - 1) / L)
      }
    }
    // replay: nothing re-appends
    Pack.appendToChoppedLayout(spark, path, inc, col("doc_id"), col("n"))
    assert(Pack.packChoppedAppend(spark, path, inc, col("doc_id"), col("n"))
      .count() === 0L)
  }

  test("greedyUtilization: fill+pad = seqLen for every multi-possible bin") {
    val L = 128
    val packed = Pack.packGreedy(docs, col("doc_id"), col("n"), L, shards = 4)
    val util = Pack.greedyUtilization(packed, L).collect()
    util.foreach { r =>
      val (fill, pad) = (r.getLong(r.fieldIndex("fill")), r.getLong(r.fieldIndex("pad")))
      if (fill <= L) assert(fill + pad === L)
      else assert(pad === 0L) // oversize single-doc bin
    }
    // conservation: every doc's tokens appear in exactly one bin
    assert(util.map(_.getLong(util.head.fieldIndex("fill"))).sum ===
      docs.agg(sum("n")).head().getLong(0))
  }
}
