package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus snapshot diffing — the incremental-crawl shape. A 100 TB
  * pretraining pipeline does not reprocess the corpus; it diffs
  * yesterday's snapshot against today's and reprocesses only the
  * delta (the same contract as the persisted incremental dedup
  * indexes in [[Dedup]]/[[Similarity]], one layer earlier in the
  * funnel). The reference has no snapshot surface (kairos overwrites
  * buckets in place, `timeseries.py:439-470`); this belongs to the
  * beyond-parity pipeline layer.
  *
  * Scale shape: the ONLY thing that shuffles is (id, 16-byte
  * fingerprint) — content is fingerprinted IN PLACE under the scan
  * (projection pushdown keeps the text column out of the exchange)
  * and the classification is one co-partitionable full-outer hash
  * join on the id. With both snapshots bucketed by id on disk the
  * join plans with zero exchanges; AQE handles the residual skew.
  * The reprocess feed then re-reads content for the (small) delta
  * only — a semi-join driven scan, not a second full pass.
  */
object Snapshot {

  /** Per-id delta classification between two snapshots: (id, status ∈
    * added|removed|changed|unchanged, old_fp, new_fp) where the
    * fingerprint is md5 of the content column (engine-portable, the
    * [[Mix.portableKey]] idiom). Ids present in neither snapshot
    * don't exist; ids present in both compare by fingerprint, so a
    * byte-identical re-crawl is 'unchanged' even if it was re-fetched. */
  def delta(oldSnap: DataFrame, newSnap: DataFrame, id: Column,
      content: Column): DataFrame = {
    val o = oldSnap.select(id.cast("long").as("id"),
      md5(content.cast("binary")).as("old_fp"))
    val n = newSnap.select(id.cast("long").as("id"),
      md5(content.cast("binary")).as("new_fp"))
    o.join(n, Seq("id"), "full_outer")
      .select(col("id"),
        when(col("old_fp").isNull, lit("added"))
          .when(col("new_fp").isNull, lit("removed"))
          .when(col("old_fp") =!= col("new_fp"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        col("old_fp"), col("new_fp"))
  }

  /** The rows downstream stages must reprocess: ids classified
    * added|changed, semi-joined back to the NEW snapshot so the
    * (possibly wide) content columns are only materialized for the
    * delta. Removed ids are the retraction feed — surfaced by
    * [[delta]] directly. */
  def reprocessFeed(oldSnap: DataFrame, newSnap: DataFrame, id: Column,
      content: Column): DataFrame = {
    // the join key rides under a reserved alias so dropping it can
    // never shadow a caller column literally named "id" (the natural
    // case when the id param IS col("id"))
    val todo = delta(oldSnap, newSnap, id, content)
      .filter(col("status").isin("added", "changed"))
      .select(col("id").as("__delta_id"), col("status"))
    newSnap.join(todo, id.cast("long") === todo("__delta_id"))
      .drop("__delta_id")
  }

  /** Persist a snapshot's fingerprint table — (id, md5 fp) only, the
    * 24-bytes-per-document state that makes tomorrow's diff run
    * WITHOUT re-reading yesterday's content. The production loop is
    * build once → [[deltaAgainstStore]] per crawl → [[advanceStore]]
    * after the delta is consumed. */
  def buildFingerprintStore(snap: DataFrame, id: Column, content: Column,
      path: String): Unit =
    snap.select(id.cast("long").as("id"),
        md5(content.cast("binary")).as("fp"))
      .write.mode("overwrite").parquet(path)

  /** [[delta]] of a new snapshot against the STORED fingerprints:
    * classification is identical to the inline form (fp equality is
    * fp equality wherever the old fp came from), but the old side is
    * a ~24-byte-per-row parquet scan instead of a full content pass —
    * the read-side half of the incremental contract the persisted
    * dedup indexes already follow. */
  def deltaAgainstStore(spark: org.apache.spark.sql.SparkSession,
      path: String, newSnap: DataFrame, id: Column,
      content: Column): DataFrame = {
    val o = spark.read.parquet(path).select(col("id"), col("fp").as("old_fp"))
    val n = newSnap.select(id.cast("long").as("id"),
      md5(content.cast("binary")).as("new_fp"))
    o.join(n, Seq("id"), "full_outer")
      .select(col("id"),
        when(col("old_fp").isNull, lit("added"))
          .when(col("new_fp").isNull, lit("removed"))
          .when(col("old_fp") =!= col("new_fp"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        col("old_fp"), col("new_fp"))
  }

  /** Streaming-side micro-batch of [[deltaAgainstStore]]: classify a
    * batch of crawled docs against the stored fingerprints (a LEFT
    * join — 'removed' is undetectable from an arrival stream; absent
    * ids are reconciled by a batch anti-join once the crawl closes)
    * and append (id, status, old_fp, new_fp) to `outPath`. Replays
    * are idempotent on the sink (id anti-join against what is already
    * written — the Classify/Dsir appender contract). */
  def appendDeltaAgainst(spark: org.apache.spark.sql.SparkSession,
      storePath: String, outPath: String, docs: DataFrame, id: Column,
      content: Column): Unit = {
    val o = spark.read.parquet(storePath)
      .select(col("id"), col("fp").as("old_fp"))
    // a crawler that re-delivers the same id WITHIN a batch (retry
    // storms do this) must not double-append: keep one row per id,
    // deterministically the min fingerprint — not dropDuplicates,
    // whose survivor is partition-order-dependent
    val d = docs.select(id.cast("long").as("id"),
        md5(content.cast("binary")).as("new_fp"))
      .groupBy("id").agg(min(col("new_fp")).as("new_fp"))
      .join(o, Seq("id"), "left")
      .select(col("id"),
        when(col("old_fp").isNull, lit("added"))
          .when(col("old_fp") =!= col("new_fp"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        col("old_fp"), col("new_fp"))
    Layout.appendAbsent(d, Layout.readIfExists(spark, outPath)(d), outPath, "id")
  }

  /** Replace the stored fingerprints with the new snapshot's, in one
    * [[Layout.replaceDir]] swap: a crash mid-swap leaves a complete
    * copy that the next advance restores. */
  def advanceStore(snap: DataFrame, id: Column, content: Column,
      path: String): Unit =
    Layout.replaceDir(snap.sparkSession, path)(
      buildFingerprintStore(snap, id, content, _))
}
