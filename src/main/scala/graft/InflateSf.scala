package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic ×N inflation of the sf0.1 corpus into a larger bench
  * anchor (default target/sf1, mult 10): documents / embeddings /
  * events replicate with md5-keyed perturbation — CLEAN, unlike
  * [[Scale.inflateDocuments]]'s stress corpus (no planted boilerplate
  * tails or clone floods: this dir anchors the 2× wall-time contract
  * where shuffles are real, not a pathology probe). TPC-H tables are
  * passed through unchanged (the heavy bench queries don't touch
  * them; the relational queries stay comparable with the base sf).
  *
  * Everything is re-derivable: replica `rep` of row `r` gets id
  * `rep*baseN + id`, and perturbations key md5(ids), zero rand(). The
  * output is written once and reused (guarded by `_SUCCESS`).
  */
object InflateSf {

  /** Word-perturbed document replicas (doc_id, text, lang, source) and
    * the base document count: replica `rep` of base doc `d` gets id
    * `rep*baseN + d`, and ~25% of its words (md5-selected per (doc,
    * position)) become unique 7-char tokens, so replicas are NOT
    * near-dups of their base and share almost no 3-word shingle — the
    * dedup funnels' answer volume stays linear. */
  def documentReplicas(spark: SparkSession, baseDir: String,
      mult: Int): (DataFrame, Long) = {
    val base = spark.read.parquet(s"$baseDir/documents.parquet")
      .select("doc_id", "text", "lang", "source")
    val baseN = base.count()
    val idStr = col("doc_id").cast("string")
    val replicas = base.crossJoin(broadcast(spark.range(mult).toDF("__rep")))
      .select((col("__rep") * baseN + col("doc_id")).as("doc_id"),
        col("text"), col("lang"), col("source"))
      .withColumn("text", array_join(
        transform(split(col("text"), " "), (w, i) => {
          val sel = conv(substring(md5(
            concat_ws("#", idStr, lit("w"), i.cast("string"))), 1, 4),
            16, 10).cast("long")
          when(sel % 4 === 0, concat(lit("w"), substring(md5(
            concat_ws("#", idStr, lit("r"), i.cast("string"))), 1, 6)))
            .otherwise(w)
        }), " "))
    (replicas, baseN)
  }

  /** The clean inflated corpus: [[documentReplicas]] with `n_chars`. */
  def inflateDocuments(spark: SparkSession, baseDir: String,
      mult: Int): DataFrame =
    documentReplicas(spark, baseDir, mult)._1
      .withColumn("n_chars", length(col("text")).cast("long"))

  /** Embedding replicas: each dimension rescaled ±10% (md5-selected
    * per (vec, dim)) — replicas stay in the base vector's cosine
    * neighborhood without being exact copies, so ANN/pair funnels see
    * realistic near-neighbor structure at 10× volume. */
  def inflateEmbeddings(spark: SparkSession, baseDir: String,
      mult: Int): DataFrame = {
    val base = spark.read.parquet(s"$baseDir/embeddings.parquet")
    val baseN = base.count()
    base.crossJoin(broadcast(spark.range(mult).toDF("__rep")))
      .select((col("__rep") * baseN + col("vec_id")).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          x * (lit(1.0) + lit(0.1) *
            when(pmod(xxhash64((col("__rep") * baseN + col("vec_id"))
              .cast("string"), i), lit(2)) === 0, lit(-1.0))
              .otherwise(lit(1.0))))
          .cast(ArrayType(FloatType)).as("embedding"),
        col("label"))
  }

  /** Event replicas: ids shifted, timestamps offset by `rep` seconds
    * (stays inside every bucketing window's era), values rescaled
    * ±10% — the timeseries/streaming funnels aggregate 10× the rows
    * over the same interval grid. */
  def inflateEvents(spark: SparkSession, baseDir: String,
      mult: Int): DataFrame = {
    val base = SparkEntry.events(spark, baseDir)
    val baseN = base.count()
    base.crossJoin(broadcast(spark.range(mult).toDF("__rep")))
      .select((col("__rep") * baseN + col("event_id")).as("event_id"),
        expr("timestampadd(SECOND, __rep, ts)").as("ts"),
        col("user_id"), col("event_type"),
        (col("value") * (lit(1.0) + lit(0.1) *
          when(pmod(xxhash64(col("event_id"), col("__rep")), lit(2)) === 0,
            lit(-1.0)).otherwise(lit(1.0)))).as("value"),
        col("props"))
  }

  def materialize(spark: SparkSession, baseDir: String, outDir: String,
      mult: Int): Unit = {
    val done = new java.io.File(s"$outDir/_GRAFT_SF1_DONE")
    if (done.exists()) return
    val cpus = spark.sparkContext.defaultParallelism
    inflateDocuments(spark, baseDir, mult).repartition(cpus)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    inflateEmbeddings(spark, baseDir, mult).repartition(cpus)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    inflateEvents(spark, baseDir, mult).repartition(cpus)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem")) {
      val src = s"$baseDir/$t.parquet"
      if (new java.io.File(src).exists())
        spark.read.parquet(src).write.mode("overwrite")
          .parquet(s"$outDir/$t.parquet")
    }
    done.createNewFile()
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/root/repo/target/sf1")
    val mult = Harness.positive(sys.env.get("SPARK_GRAFT_SF1_MULT"), 10)
    val spark = Harness.session()
    materialize(spark, baseDir, outDir, mult)
    System.err.println(s"[inflate] $outDir ready (mult=$mult)")
    spark.stop()
  }
}
