package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-dimensional file layout: Morton (z-order) interleaving so
  * parquet min/max stats prune on EITHER filter dimension — the
  * data-skipping layout Delta's OPTIMIZE ZORDER popularized (public
  * technique; Morton 1966). A range-sorted layout prunes only its
  * leading sort column; at 100 TB, "filter by time" AND "filter by
  * entity" on the same table otherwise needs two copies.
  *
  * The z-value is computed with the classic 5-mask bit-spread — pure
  * codegen'd Column bitwise ops, no UDF. Inputs must be non-negative
  * and < 2^31 (rank/bucket ids, epoch-second buckets, hash buckets);
  * map real domains onto that range first (e.g. `sec - min_sec`,
  * `xxhash64(user) & 0x7FFFFFFF`).
  */
object Layout {

  /** Spread the low 32 bits of `c` to the even bit positions of a
    * 64-bit value. */
  private def spread(c: Column): Column = {
    var x = c.bitwiseAND(lit(0xFFFFFFFFL))
    x = (x.bitwiseOR(shiftleft(x, 16))).bitwiseAND(lit(0x0000FFFF0000FFFFL))
    x = (x.bitwiseOR(shiftleft(x, 8))).bitwiseAND(lit(0x00FF00FF00FF00FFL))
    x = (x.bitwiseOR(shiftleft(x, 4))).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
    x = (x.bitwiseOR(shiftleft(x, 2))).bitwiseAND(lit(0x3333333333333333L))
    (x.bitwiseOR(shiftleft(x, 1))).bitwiseAND(lit(0x5555555555555555L))
  }

  /** Per-dimension bits of an n-dim Morton code: ⌊63/n⌋ keeps the
    * sign bit clear, so signed-long ordering IS z-order. 2 dims →
    * 31 bits, 3 → 21, 4 → 15. */
  def zBits(nDims: Int): Int = 63 / nDims

  /** The documented [0, 2^bits) precondition, ENFORCED: an
    * out-of-range value would otherwise have its overflow bits
    * silently spread into other dimensions' positions (and, for
    * 2-dim bit 31, the 64-bit sign position) — wrong, engine-local
    * z-values instead of an error (r13 advisor finding). Pure
    * conditional in codegen; the error names the dimension. */
  private def checkedDim(c0: Column, d: Int, bits: Int, n: Int): Column = {
    val c = c0.cast("long")
    when(c < 0 || c >= lit(1L << bits),
      raise_error(concat(
        lit(s"zValue: dim $d value "), c.cast("string"),
        lit(s" outside [0, 2^$bits) — $n-dim z-order keys carry $bits "
          + "bits per dimension; map the domain onto that range first"))))
      .otherwise(c)
  }

  /** 64-bit Morton code of two dimension values in [0, 2^31): `a`'s
    * bits land in the odd positions, `b`'s in the even — nearby (a,b)
    * pairs get nearby z-values, so a file of consecutive z-values
    * covers a small rectangle in (a,b) space and its parquet min/max
    * footer excludes it from most range filters on either dimension.
    * Out-of-range inputs raise (see [[checkedDim]]). */
  def zValue(a: Column, b: Column): Column =
    shiftleft(spread(checkedDim(a, 0, 31, 2)), 1)
      .bitwiseOR(spread(checkedDim(b, 1, 31, 2)))

  /** n-dimensional Morton code (2 ≤ n ≤ 8), [0, 2^⌊63/n⌋) per
    * dimension: bit k of dimension d lands at position k·n+(n−1−d),
    * so earlier dimensions take the higher interleaved positions —
    * for n=2 exactly [[zValue]]'s (a odd, b even) layout. Real layout
    * tuning wants 3-4 key columns (time × entity × shard…); beyond 4
    * the per-dim range (≤ 2^12) stops being useful — the 8 cap is a
    * sanity bound, not a recommendation. The general spread is a
    * static ⌊63/n⌋-term shift/or chain per dimension — pure codegen'd
    * bitwise Column ops like the 2-dim fast path, no UDF. */
  def zValueN(dims: Seq[Column]): Column = {
    val n = dims.length
    require(n >= 2 && n <= 8, s"zValueN wants 2..8 dimensions, got $n")
    if (n == 2) zValue(dims.head, dims(1))
    else {
      val bits = zBits(n)
      dims.zipWithIndex.map { case (c0, d) =>
        val c = checkedDim(c0, d, bits, n)
        (0 until bits).map(k =>
          shiftleft(shiftright(c, k).bitwiseAND(lit(1L)), k * n + (n - 1 - d)))
          .reduce(_ bitwiseOR _)
      }.reduce(_ bitwiseOR _)
    }
  }

  /** Write `df` z-ordered on (a, b) into `numFiles` range-partitioned,
    * internally-sorted parquet files. The z column is dropped before
    * writing (projection after the sort is narrow — ordering is
    * preserved into the files). */
  def writeZOrdered(df: DataFrame, path: String, a: Column, b: Column,
      numFiles: Int): Unit =
    writeZOrderedN(df, path, Seq(a, b), numFiles)

  /** [[writeZOrdered]] over 2-8 key columns ([[zValueN]]). */
  def writeZOrderedN(df: DataFrame, path: String, dims: Seq[Column],
      numFiles: Int): Unit =
    df.withColumn("__z", zValueN(dims))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** Read a store if it exists, else an empty frame with `template`'s
    * schema — THE shared probe of every incremental append body.
    * Existence goes through the Hadoop FileSystem API: a
    * `java.io.File` check would be silently false on HDFS/S3/ABFS and
    * every downstream anti-join would treat a populated store as
    * empty. `template` is only used for its schema (limit(0)). */
  def readIfExists(spark: SparkSession, path: String)
      (template: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.parquet(path) else template.limit(0)
  }

  /** Replace the directory at `path` with what `write` puts into the
    * temp path it is handed — THE directory swap behind every store
    * rewrite (`Timeseries.save` and its partition rewrites,
    * [[compactFiles]], `Snapshot.advanceStore`,
    * `Sketch.compactCountMin`). The temp dir `.<name>-tmp` and the
    * parked old copy `.<name>-old` are dot-prefixed siblings of
    * `path`, so Spark's file listing never sees them. `write` may read
    * `path` itself: it finishes before the swap starts.
    *
    * Three steps. (1) [[recoverDir]]. (2) Write into the temp dir; a
    * write that throws deletes it and rethrows, leaving `path`
    * untouched. (3) Rename `path` → dot-old, temp → `path`, and drop
    * dot-old.
    *
    * A reader racing the two renames can find no directory, but a
    * crash at any point leaves the complete old content at `path` or
    * in dot-old, where the next swap or [[recoverDir]] of the same
    * path restores it. A failed rename throws an IOException naming
    * both paths. */
  def replaceDir(spark: SparkSession, path: String)(write: String => Unit): Unit = {
    recoverDir(spark, path)
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (tmp, old) = swapSiblings(target)
    try write(tmp.toString)
    catch { case scala.util.control.NonFatal(e) => fs.delete(tmp, true); throw e }
    if (fs.exists(target)) rename(fs, target, old)
    rename(fs, tmp, target)
    fs.delete(old, true)
  }

  /** Undo what an interrupted [[replaceDir]] of `path` left: delete a
    * stale temp dir (an interrupted write); a dot-old left behind
    * means the swap stopped between its two renames, so rename it back
    * when `path` is missing, else drop it. Every store rewrite that
    * first checks or lists `path` calls this before it: a missing
    * `path` with a dot-old beside it is a parked store, not an absent
    * one. */
  def recoverDir(spark: SparkSession, path: String): Unit = {
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (tmp, old) = swapSiblings(target)
    fs.delete(tmp, true)
    if (fs.exists(old)) {
      if (fs.exists(target)) fs.delete(old, true) else rename(fs, old, target)
    }
  }

  /** The dot-prefixed temp and parked-old siblings of a swapped dir. */
  private def swapSiblings(target: Path): (Path, Path) =
    (new Path(target.getParent, s".${target.getName}-tmp"),
      new Path(target.getParent, s".${target.getName}-old"))

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"replaceDir: rename $from -> $to failed")

  /** Append the `rows` whose `key` is not in `stored` to the parquet
    * store at `path` — the replay-idempotent append of every
    * incremental index and score sink: a replayed micro-batch finds
    * its keys already stored and appends nothing. `stored` is the
    * caller's read of the store: `spark.read.parquet` where the store
    * must already exist (a missing index fails the append), or
    * [[readIfExists]] for a sink the first batch creates. */
  def appendAbsent(rows: DataFrame, stored: DataFrame, path: String,
      key: String): Unit =
    rows.join(stored.select(key), Seq(key), "left_anti")
      .write.mode("append").parquet(path)

  /** Pin `df`: run it once, eagerly, and return a frame over the
    * stored result with its lineage cut; then release `caches`, the
    * persisted intermediates its plan read. graft's one checkpoint
    * rule: every funnel exit (dedup, ANN, LM, multimodal), every
    * iterative round ([[Graph]], connected components) and every
    * intermediate an op reads more than once is pinned here. The
    * funnels pin their small result so their signature and count
    * caches release at once instead of accumulating for the session's
    * life.
    *
    * Default = `localCheckpoint(eager)`: lineage-truncating and cheap,
    * but NOT fault-tolerant — the pinned blocks live in executor
    * storage (memory, spilling to local disk), so an executor loss
    * FAILS a later job instead of recomputing, and every pinned frame
    * must fit in cluster storage. That is the standard trade for
    * iterative algorithms and small funnel results (re-deriving the
    * input costs more than it insures).
    *
    * Cluster escape hatch: set `spark.graft.checkpoint.dir` on the
    * session and pins become RELIABLE checkpoints (written to that
    * fault-tolerant dir, surviving executor loss) — same values, same
    * downstream plan shape, strictly slower on a single box, which is
    * why it is off by default and off in the bench. A SparkContext
    * already checkpointing elsewhere fails the pin with both paths
    * named: the context has one checkpoint dir, and silently writing
    * to the other one would ignore the setting.
    *
    * The pin's jobs run under a job description naming the calling
    * graft source line, so job listings say which op pinned. */
  def pin(df: DataFrame, caches: DataFrame*): DataFrame = {
    val spark = df.sparkSession
    val sc = spark.sparkContext
    val reliable = spark.conf.getOption("spark.graft.checkpoint.dir")
    reliable.foreach { d =>
      sc.getCheckpointDir match {
        case None => sc.setCheckpointDir(d)
        case Some(cur) =>
          // the context checkpoints into a fresh subdir of the dir it
          // was given
          val want = new Path(d)
          val wantQ = want.getFileSystem(sc.hadoopConfiguration).makeQualified(want)
          if (new Path(cur).getParent != wantQ) throw new IllegalStateException(
            s"spark.graft.checkpoint.dir is $wantQ, but the SparkContext " +
            s"already checkpoints to $cur")
      }
    }
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"pin ${callerLine()}")
    val out =
      try if (reliable.isDefined) df.checkpoint(true) else df.localCheckpoint(true)
      finally sc.setJobDescription(prev)
    caches.foreach(_.unpersist())
    out
  }

  /** `File.scala:line` of the first graft frame outside this object. */
  private def callerLine(): String =
    Thread.currentThread.getStackTrace.iterator
      .find(f => f.getClassName.startsWith("graft.") &&
        f.getClassName.stripSuffix("$") != "graft.ops.Layout")
      .fold("?")(f => s"${f.getFileName}:${f.getLineNumber}")

  /** Small-file compaction of a parquet directory tree — the
    * operational counterpart of every append path here (streaming
    * ingest, index appends): micro-batches and incremental appends
    * accrete KB-scale files whose per-file open/footer cost eventually
    * dominates scans. Each LEAF directory (one holding data files
    * directly and no data subdirectories — a `col=value` partition
    * layout is preserved exactly) is rewritten to
    * ceil(bytes/targetFileBytes) files. Directories already at or
    * under the target file count are SKIPPED byte-identical, so
    * repeated runs are cheap and idempotent. Two shapes are refused
    * rather than guessed at: a dir holding BOTH data files and data
    * subdirs (not a valid partition tree — skipped), and any dir
    * carrying a `_spark_metadata` file-sink log (the log names the
    * sink's exact files; rewriting them would corrupt every
    * log-driven read — skipped).
    *
    * Each rewrite is one [[replaceDir]] swap of its leaf, so the new
    * leaf carries the rewrite's own `_SUCCESS` marker.
    *
    * Returns (directories rewritten, files before, files after).
    * Ordering inside rewritten files is not preserved (coalesce-style
    * compaction never guarantees it); run [[writeZOrdered]] instead
    * where a sort-derived layout must survive. */
  def compactFiles(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L << 20): (Int, Long, Long) = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // mirrors Spark's InMemoryFileIndex hidden-path rule: "." names are
    // always metadata, "_" names are metadata UNLESS they contain "="
    // (partition dirs like __list=0 are data — the IVF store uses them)
    def isData(p: Path): Boolean = {
      val n = p.getName
      !(n.startsWith(".") || (n.startsWith("_") && !n.contains("=")))
    }
    // a leaf whose swap stopped between its renames is parked as
    // `.<leaf>-old`: restore it before the listing skips it as hidden
    val Parked = """\.(.+)-old""".r
    // leaves = dirs whose data entries are exclusively files; mixed
    // file+subdir dirs are not valid partition trees and are left
    // alone. A `_spark_metadata` log ANYWHERE prunes its whole
    // subtree: a partitioned streaming sink keeps the log at the
    // OUTPUT ROOT while data lives in partition subdirs below it,
    // and the log names the sink's exact files — every dir under a
    // logged root is off-limits, not just the dir holding the log.
    def leaves(dir: Path): Seq[Path] = {
      val first = fs.listStatus(dir)
      if (first.exists(_.getPath.getName == "_spark_metadata")) Nil
      else {
        val parked = first.map(_.getPath.getName).collect { case Parked(n) => n }
        parked.foreach(n => recoverDir(spark, new Path(dir, n).toString))
        val all = if (parked.isEmpty) first else fs.listStatus(dir)
        val entries = all.filter(s => isData(s.getPath))
        val (dirs, files) = entries.partition(_.isDirectory)
        val below = dirs.flatMap(d => leaves(d.getPath)).toSeq
        if (files.nonEmpty && dirs.isEmpty) dir +: below else below
      }
    }
    recoverDir(spark, path)
    var rewritten = 0; var before = 0L; var after = 0L
    leaves(root).foreach { dir =>
      val all = fs.listStatus(dir)
      val files = all.filter(s => s.isFile && isData(s.getPath))
      val bytes = files.map(_.getLen).sum
      val want = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      before += files.length
      if (files.length <= want) after += files.length
      else {
        replaceDir(spark, dir.toString)(tmp =>
          spark.read.parquet(dir.toString)
            .repartition(want)
            .write.mode("overwrite").parquet(tmp))
        rewritten += 1
        after += fs.listStatus(dir).count(s => s.isFile && isData(s.getPath))
      }
    }
    (rewritten, before, after)
  }
}
