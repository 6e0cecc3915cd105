package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exact edit-distance pair matching — the fuzzy half of entity
  * resolution (near-identical names, titles, product codes, URLs),
  * complementing the set-similarity funnels in [[Dedup]] which are
  * blind to character-level edits that shred token sets.
  *
  * Candidate generation is segment blocking (public: Li, Deng, Feng,
  * "PassJoin: a partition-based method for similarity joins",
  * PVLDB 2011): partition every string into `maxDist + 1` contiguous
  * segments; by pigeonhole over the optimal alignment, any string
  * within edit distance d of it contains at least one segment as an
  * EXACT substring, starting within ±d of the segment's position (and
  * the two lengths differ by at most d). So candidates are found by a
  * key-EQUALITY join — `(target_len, segment_idx, segment_text)`
  * against substrings the probe side enumerates for lengths within ±d
  * and starts within ±d — never a cartesian product, never a
  * similarity predicate in the join condition. Levenshtein with an
  * early-exit threshold then verifies exactly; the funnel has NO
  * false negatives for strings of at least `maxDist + 1` characters
  * (shorter strings carry no information at that radius — screen them
  * upstream; the funnel documents, not hides, that contract).
  *
  * 100 TB shape: the probe explosion is O((2d+1)²·(d+1)) rows per
  * string — constant for fixed d — and every downstream step is a
  * key-equality shuffle. `bucketCap` is the standard skew insurance
  * (same trade as the LSH funnels): a segment shared by more than
  * `cap` strings (a constant prefix in machine-generated keys) is
  * dropped from BLOCKING — pairs whose every other segment also
  * exceeds the cap are lost, which the caller fixes by stripping the
  * constant prefix, not by an uncapped quadratic join. Like every
  * match family in the engine, the blocking table persists
  * ([[buildIndex]]) and crawl increments match against it with no
  * old-vs-old recompute ([[editPairsAgainstIndex]]). */
object EditDistance {

  private def segStart(len: Column, k: Int, d: Int): Column =
    (floor(len * lit(k) / lit(d + 1)) + 1).cast(IntegerType)
  private def segLen(len: Column, k: Int, d: Int): Column =
    (floor(len * lit(k + 1) / lit(d + 1)) -
      floor(len * lit(k) / lit(d + 1))).cast(IntegerType)

  /** `(id, s, len)` with nulls and sub-(d+1)-char strings screened. */
  private def normalized(df: DataFrame, str: Column, id: Column,
      d: Int): DataFrame =
    df.filter(str.isNotNull)
      .select(id.as("id"), str.as("s"), length(str).as("len"))
      .filter(col("len") >= d + 1)
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
        col("id"))

  /** Target role: the d+1 segments of every string, keyed by length. */
  private def segmentsOf(base: DataFrame, d: Int): DataFrame =
    base.select(col("id").as("tid"), col("len").as("tl"),
      explode(array((0 to d).map(k => struct(lit(k).as("k"),
        substring(col("s"), segStart(col("len"), k, d),
          segLen(col("len"), k, d)).as("seg"))): _*)).as("g"))
      .select(col("tid"), col("tl"), col("g.k"), col("g.seg"))
      .filter(length(col("seg")) >= 1)

  /** Probe role: for every target length within ±d and every segment,
    * the substrings at the segment's position shifted by ±d. Built as
    * THREE chained small explodes (lengths → segments → shifts), not
    * one (2d+1)²·(d+1)-struct explode: the flat version repeats every
    * floor-division subexpression per struct, blows Janino's 64 KB
    * method limit, and silently drops the whole stage out of codegen
    * (Spark falls back to interpreted with an ERROR per plan). Staged,
    * each boundary is computed once per intermediate row and every
    * Generate stays codegen-sized. */
  private def probesOf(base: DataFrame, d: Int): DataFrame =
    base
      .select(col("id").as("pid"), col("s"), col("len").as("pl"),
        explode(array((-d to d).map(dl =>
          (col("len") + lit(dl)).cast(IntegerType)): _*)).as("tl"))
      .filter(col("tl") >= d + 1)
      .select(col("pid"), col("s"), col("pl"), col("tl"),
        explode(array((0 to d).map(k => struct(lit(k).as("k"),
          segStart(col("tl"), k, d).as("start"),
          segLen(col("tl"), k, d).as("sl"))): _*)).as("g"))
      .select(col("pid"), col("s"), col("pl"), col("tl"),
        col("g.k").as("k"), col("g.sl").as("sl"),
        explode(array((-d to d).map(sh =>
          (col("g.start") + lit(sh)).cast(IntegerType)): _*)).as("pos"))
      .filter(col("pos") >= 1 && col("sl") >= 1 &&
        col("pos") + col("sl") - 1 <= col("pl"))
      .select(col("pid"), col("tl"), col("k"),
        substring(col("s"), col("pos"), col("sl")).as("sub"))
      .filter(length(col("sub")) === col("sl"))
      .distinct()

  /** Threshold-verify candidate id pairs against their strings:
    * keeps `(id_a, id_b, dist)` with `dist ≤ d`, ids ordered. */
  private def verify(cand: DataFrame, left: DataFrame, right: DataFrame,
      d: Int): DataFrame =
    cand
      .join(left.select(col("id").as("id_l"), col("s").as("__sa"),
        col("len").as("__la")), Seq("id_l"))
      .join(right.select(col("id").as("id_r"), col("s").as("__sb"),
        col("len").as("__lb")), Seq("id_r"))
      .filter(abs(col("__la") - col("__lb")) <= d)
      // threshold variant early-exits the DP once the distance is
      // provably > d (returns -1 there)
      .withColumn("dist", levenshtein(col("__sa"), col("__sb"), d))
      .filter(col("dist") >= 0)
      .select(least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"),
        col("dist").cast(LongType).as("dist"))

  /** All unordered pairs `(id_a, id_b, dist)` with
    * `levenshtein ≤ maxDist`, ids ordered `id_a < id_b`. Both sides
    * restricted to strings of ≥ `maxDist + 1` chars (see object doc). */
  def editPairs(df: DataFrame, str: Column, id: Column, maxDist: Int,
      bucketCap: Int = 100000): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    val d = maxDist
    val base = normalized(df, str, id, d)
    val cand = Dedup.dropOversizedBuckets(segmentsOf(base, d),
        Seq("tl", "k", "seg"), bucketCap)
      .join(Dedup.dropOversizedBuckets(probesOf(base, d),
          Seq("tl", "k", "sub"), bucketCap)
          .withColumnRenamed("sub", "seg"), Seq("tl", "k", "seg"))
      .filter(col("tid") =!= col("pid"))
      .select(least(col("tid"), col("pid")).as("id_l"),
        greatest(col("tid"), col("pid")).as("id_r"))
      .distinct()
    verify(cand, base, base, d)
  }

  /** Persist the blocking index of a corpus: `path/strings` =
    * (id, s, len), `path/segments` = (tl, k, seg, tid) — so
    * increments match against the store WITHOUT re-segmenting (or
    * re-pairing) old data. */
  def buildIndex(df: DataFrame, str: Column, id: Column, maxDist: Int,
      path: String): Unit = {
    val base = normalized(df, str, id, maxDist)
    base.write.mode("overwrite").parquet(s"$path/strings")
    segmentsOf(base, maxDist).write.mode("overwrite")
      .parquet(s"$path/segments")
  }

  /** Append genuinely-new ids to a stored index (id anti-join — the
    * same replay-idempotence contract as every other store append). */
  def appendToIndex(spark: SparkSession, path: String, df: DataFrame,
      str: Column, id: Column, maxDist: Int): Unit = {
    val fresh = normalized(df, str, id, maxDist)
      .join(spark.read.parquet(s"$path/strings").select("id"), Seq("id"),
        "left_anti")
      .transform(Layout.pin(_))
    fresh.write.mode("append").parquet(s"$path/strings")
    segmentsOf(fresh, maxDist).write.mode("append")
      .parquet(s"$path/segments")
  }

  /** Match an increment against a stored index: all pairs
    * `(id_a, id_b, dist)` within `maxDist` where at least one side is
    * NEW — new-vs-stored via the persisted blocking table (the
    * PassJoin lemma holds with the stored side as target, so that one
    * direction is complete), plus new-vs-new inline. Old-vs-old pairs
    * were reported when the old data arrived; nothing rescans them. A
    * re-delivered id matches its own stored twin at distance 0 — that
    * self-pair is dropped, everything else about redelivery is the
    * store append's anti-join problem, not the matcher's. */
  def editPairsAgainstIndex(spark: SparkSession, path: String,
      increment: DataFrame, str: Column, id: Column, maxDist: Int,
      bucketCap: Int = 100000): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    val d = maxDist
    val inc = normalized(increment, str, id, d).transform(Layout.pin(_))
    val stored = spark.read.parquet(s"$path/strings")
    val segs = Dedup.dropOversizedBuckets(
      spark.read.parquet(s"$path/segments"), Seq("tl", "k", "seg"),
      bucketCap)
    val probes = Dedup.dropOversizedBuckets(probesOf(inc, d),
        Seq("tl", "k", "sub"), bucketCap)
      .withColumnRenamed("sub", "seg")
    val candNewOld = segs.join(probes, Seq("tl", "k", "seg"))
      .filter(col("tid") =!= col("pid"))
      .select(col("pid").as("id_l"), col("tid").as("id_r")).distinct()
    verify(candNewOld, inc, stored, d)
      .filter(col("id_a") =!= col("id_b"))
      .unionAll(editPairs(inc, col("s"), col("id"), d, bucketCap))
      .distinct()
  }
}
