package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Morton-code arithmetic and the measured data-skipping claim: a
  * z-ordered layout prunes row groups on BOTH dimensions where a
  * single-column sort prunes only its leading column. */
class LayoutSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("zValue interleaves bits: a odd positions, b even") {
    import spark.implicits._
    val got = Seq((3L, 0L), (0L, 3L), (1L, 1L), (2L, 1L))
      .toDF("a", "b")
      .select(Layout.zValue(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // a=0b11,b=0b00 → 0b1010; a=0b00,b=0b11 → 0b0101;
    // a=1,b=1 → 0b11; a=0b10,b=0b01 → 0b1001
    assert(got === Seq(10L, 5L, 3L, 9L))
  }

  test("zValue is monotone-rectangular: prefixes share z ranges") {
    import spark.implicits._
    // all points with a,b in [0,4) have z < 16; any point with a >= 4
    // or b >= 4 has z >= 16 — the quadrant property pruning relies on
    val df = spark.range(64).select(
      (col("id") / 8).cast("long").as("a"), (col("id") % 8).as("b"))
    val z = df.select(col("a"), col("b"),
      Layout.zValue(col("a"), col("b")).as("z")).collect()
    z.foreach { r =>
      val inQuad = r.getLong(0) < 4 && r.getLong(1) < 4
      assert((r.getLong(2) < 16) === inQuad, r)
    }
  }

  test("zValueN: n=2 is exactly zValue; 3-dim generalizes the quadrant property") {
    import spark.implicits._
    val two = spark.range(200).select((col("id") * 37 % 101).as("a"),
      (col("id") * 13 % 89).as("b"))
    val eq = two.select((Layout.zValueN(Seq(col("a"), col("b"))) ===
      Layout.zValue(col("a"), col("b"))).as("ok")).collect()
    assert(eq.forall(_.getBoolean(0)))
    // 3 dims: all points inside the [0,4)^3 octant have z < 64; any
    // point outside it has z >= 64 (bit positions >= 6 set)
    val df = spark.range(512).select(
      (col("id") / 64).cast("long").as("a"),
      ((col("id") / 8) % 8).cast("long").as("b"),
      (col("id") % 8).as("c"))
    val z = df.select(col("a"), col("b"), col("c"),
      Layout.zValueN(Seq(col("a"), col("b"), col("c"))).as("z")).collect()
    z.foreach { r =>
      val inOct = r.getLong(0) < 4 && r.getLong(1) < 4 && r.getLong(2) < 4
      assert((r.getLong(3) < 64) === inOct, r)
    }
    // dim 0 owns the MOST significant interleaved position
    val top = Seq((1L, 0L, 0L), (0L, 1L, 0L), (0L, 0L, 1L)).toDF("a", "b", "c")
      .select(Layout.zValueN(Seq(col("a"), col("b"), col("c"))).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(top === Seq(4L, 2L, 1L))
  }

  test("zValue enforces the [0, 2^bits) precondition instead of spreading overflow") {
    import spark.implicits._
    def zOf(a: Long, b: Long): Long =
      Seq((a, b)).toDF("a", "b")
        .select(Layout.zValue(col("a"), col("b")).as("z"))
        .collect()(0).getLong(0)
    // max in-contract value still works
    assert(zOf((1L << 31) - 1, 0L) > 0)
    for ((a, b) <- Seq((1L << 31, 0L), (-1L, 0L), (0L, 1L << 31))) {
      val e = intercept[Exception] { zOf(a, b) }
      assert(e.getMessage.contains("zValue"), e.getMessage)
    }
    // 3-dim bound is 2^21
    val e3 = intercept[Exception] {
      Seq((1L << 21, 0L, 0L)).toDF("a", "b", "c")
        .select(Layout.zValueN(Seq(col("a"), col("b"), col("c"))))
        .collect()
    }
    assert(e3.getMessage.contains("2^21"), e3.getMessage)
  }

  private def scanRows(df: DataFrame): Long = {
    df.collect()
    val scans = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    scans.map(_.metrics("numOutputRows").value).sum
  }

  test("measured: z-order prunes row groups on the second dimension") {
    import spark.implicits._
    val n = 200000L
    // two independent uniform dims in [0, 1024)
    val df = spark.range(n).select(
      (xxhash64(col("id")).bitwiseAND(lit(0x7FFFFFFFL)) % 1024).as("x"),
      (xxhash64(col("id"), lit(1)).bitwiseAND(lit(0x7FFFFFFFL)) % 1024).as("y"),
      col("id"))
    val dir = graft.TempDirs.create("zorder").toString
    Layout.writeZOrdered(df, s"$dir/z", col("x"), col("y"), numFiles = 64)
    df.repartitionByRange(64, col("x")).sortWithinPartitions("x")
      .write.parquet(s"$dir/xsort")

    def q(path: String) = spark.read.parquet(path)
      .filter(col("y") >= 100 && col("y") < 132) // ~3% of y space
    val zRows = scanRows(q(s"$dir/z"))
    val xRows = scanRows(q(s"$dir/xsort"))
    // x-sorted layout: every file spans all of y → nothing prunes.
    // z-ordered: most files' y min/max excludes the range.
    assert(xRows === n, s"x-sorted should scan everything, got $xRows")
    assert(zRows < n / 2, s"z-order should prune >half the rows, got $zRows")
    // same answer either way
    assert(q(s"$dir/z").count() === q(s"$dir/xsort").count())
  }

  test("compactFiles: flat dir shrinks to the byte-target file count, data identical") {
    import spark.implicits._
    val dir = graft.TempDirs.create("compact_flat").toString
    spark.range(10000).select(col("id"), (col("id") * 7).as("v"))
      .repartition(64).write.mode("overwrite").parquet(dir)
    val fileCount0 = new java.io.File(dir).listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(fileCount0 === 64)
    val beforeRows = spark.read.parquet(dir).collect().map(_.getLong(0)).sorted

    val (rewritten, before, after) =
      Layout.compactFiles(spark, dir, targetFileBytes = 1L << 30)
    assert(rewritten === 1 && before === 64L && after === 1L)
    val afterRows = spark.read.parquet(dir).collect().map(_.getLong(0)).sorted
    assert(afterRows === beforeRows)
  }

  test("compactFiles: partition layout preserved, compact partitions skipped byte-identical") {
    import spark.implicits._
    val dir = graft.TempDirs.create("compact_part").toString
    // partition a: 32 tiny files; partition b: already 1 file
    spark.range(5000).select(col("id"), lit("a").as("p"))
      .repartition(32).write.partitionBy("p").mode("overwrite").parquet(dir)
    spark.range(5000, 6000).select(col("id"), lit("b").as("p"))
      .coalesce(1).write.partitionBy("p").mode("append").parquet(dir)
    def files(sub: String) = new java.io.File(s"$dir/p=$sub").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val bBefore = files("b").map(f => (f.getName, f.lastModified())).toSet

    val (rewritten, _, _) =
      Layout.compactFiles(spark, dir, targetFileBytes = 1L << 30)
    assert(rewritten === 1, "only the fragmented partition rewrites")
    assert(files("a").length === 1)
    assert(files("b").map(f => (f.getName, f.lastModified())).toSet === bBefore,
      "compact partition must stay byte-identical")
    // partition column still derived from the directory layout
    val got = spark.read.parquet(dir).groupBy("p").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a" -> 5000L, "b" -> 1000L))
  }

  test("compactFiles refuses mixed file+subdir dirs and sink-logged dirs") {
    import spark.implicits._
    // mixed: data files at the root AND a data subdir below it
    val mixed = graft.TempDirs.create("compact_mixed").toString
    spark.range(100).repartition(8).write.mode("overwrite").parquet(mixed)
    spark.range(100).repartition(8).write.mode("overwrite")
      .parquet(s"$mixed/sub")
    val files0 = new java.io.File(mixed).listFiles().count(_.isFile)
    val (rw1, _, _) = Layout.compactFiles(spark, mixed, targetFileBytes = 1L << 30)
    assert(new java.io.File(mixed).listFiles().count(_.isFile) === files0,
      "mixed dir must stay untouched")
    assert(rw1 === 1, "the clean subdir still compacts")
    assert(new java.io.File(s"$mixed/sub").listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_")
        && !f.getName.startsWith(".")) === 1)

    // sink-logged: a _spark_metadata entry pins the exact file set
    val sink = graft.TempDirs.create("compact_sink").toString
    spark.range(100).repartition(8).write.mode("overwrite").parquet(sink)
    new java.io.File(s"$sink/_spark_metadata").mkdir()
    val (rw2, b2, a2) = Layout.compactFiles(spark, sink, targetFileBytes = 1L << 30)
    assert(rw2 === 0 && b2 === a2, "sink-logged dir must not be rewritten")
  }

  /** Every regular file under `dir`, by relative path, with its bytes. */
  private def tree(dir: String): Map[String, Seq[Byte]] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    try walk.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(p => root.relativize(p).toString ->
        java.nio.file.Files.readAllBytes(p).toSeq).toMap
    finally walk.close()
  }

  private def dotEntries(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith(".")).toSeq

  private def ids(path: String): Seq[Long] =
    spark.read.parquet(path).collect().map(_.getLong(0)).sorted.toSeq

  test("replaceDir: a write that throws leaves the target byte-identical and no dot-prefixed sibling") {
    val dir = graft.TempDirs.create("swap_fail").toString
    val store = s"$dir/store"
    spark.range(100).write.parquet(store)
    val before = tree(store)
    val e = intercept[IllegalStateException](Layout.replaceDir(spark, store) { tmp =>
      spark.range(5).write.parquet(tmp) // a partial write lands first
      throw new IllegalStateException("write failed")
    })
    assert(e.getMessage === "write failed")
    assert(tree(store) === before)
    assert(dotEntries(dir).isEmpty, dotEntries(dir))
  }

  test("replaceDir: a stale temp dir planted with extra files is not swapped in") {
    val dir = graft.TempDirs.create("swap_stale").toString
    val store = s"$dir/store"
    spark.range(100).write.parquet(store)
    // an interrupted write's leftover in the temp dir the swap uses
    spark.range(1000, 1010).write.parquet(s"$dir/.store-tmp")
    // an appending write keeps whatever the temp dir already holds
    Layout.replaceDir(spark, store)(tmp =>
      spark.read.parquet(store).filter(col("id") < 10).write.mode("append").parquet(tmp))
    assert(ids(store) === (0L until 10L))
    assert(dotEntries(dir).isEmpty, dotEntries(dir))
  }

  test("replaceDir: a dot-old next to a missing target is restored before the write") {
    val dir = graft.TempDirs.create("swap_restore").toString
    val store = s"$dir/store"
    // a swap that stopped between its two renames: the old store is
    // parked, the target is gone
    spark.range(50).write.parquet(s"$dir/.store-old")
    var seen = Seq.empty[Long]
    Layout.replaceDir(spark, store) { tmp =>
      seen = ids(store)
      spark.read.parquet(store).filter(col("id") % 2 === 0).write.parquet(tmp)
    }
    assert(seen === (0L until 50L))
    assert(ids(store) === (0L until 50L by 2))
    assert(dotEntries(dir).isEmpty, dotEntries(dir))
  }

  test("compactFiles restores a root or leaf parked by an interrupted swap, then compacts it") {
    // (directory the swap stopped between its two renames, its parked name)
    for ((parked, hidden) <- Seq("t/p=a" -> "t/.p=a-old", "t" -> ".t-old")) {
      val base = graft.TempDirs.create("compact_parked").toString
      val dir = s"$base/t"
      spark.range(3000).select(col("id"), lit("a").as("p"))
        .repartition(16).write.partitionBy("p").mode("overwrite").parquet(dir)
      assert(new java.io.File(s"$base/$parked").renameTo(new java.io.File(s"$base/$hidden")))
      val (rewritten, before, after) =
        Layout.compactFiles(spark, dir, targetFileBytes = 1L << 30)
      assert((rewritten, before, after) === ((1, 16L, 1L)), parked)
      assert(ids(s"$dir/p=a") === (0L until 3000L), parked)
      assert(!dotEntries(dir).exists(_.endsWith("-old")), dotEntries(dir))
      assert(!dotEntries(base).exists(_.endsWith("-old")), dotEntries(base))
    }
  }
}
