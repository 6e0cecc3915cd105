package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted minhash near-dup index: the incremental-dedup contract.
  * The index query must reproduce the inline funnel exactly (same
  * kernels, same funnel, corpus side read from parquet instead of
  * recomputed), appends must compose to a full build, and the
  * streaming twin must land the same store as the batch append. */
class MinhashIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Same vocabulary scheme as DedupSpec: 40 base docs (the stored
    * corpus), a 2-word-substituted near-dup of each even base doc (the
    * increment, ids 1000+d), plus one increment-internal near-dup pair
    * (2000 ~ 1000). */
  private lazy val (storeDocs: DataFrame, incrementDocs: DataFrame) = {
    import spark.implicits._
    val cons = "bcdfghjklmnpqrstvwxz"; val vow = "aeiou"
    val vocab = (0 until 300).map(i =>
      "" + cons(i % 20) + vow(i / 20 % 5) + cons(i / 7 % 20) + vow(i % 5) + cons(i * 13 % 20))
    def word(seed: Int): String = vocab(math.abs(seed * 2654435761L % vocab.size).toInt)
    def doc(d: Int, sub: Int): String = (0 until 60).map { w =>
      if (sub != 0 && w % 30 == 5) word(d * 131 + w * 7 + sub)
      else word(d * 131 + w * 7 + 3)
    }.mkString(" ")
    val base = (0 until 40).map(d => (d.toLong, doc(d, 0)))
    val dups = (0 until 40 by 2).map(d => (1000L + d, doc(d, 9999)))
    val innerDup = Seq((2000L, doc(0, 7777))) // near-dup of base 0 AND of 1000
    (base.toDF("doc_id", "text"), (dups ++ innerDup).toDF("doc_id", "text"))
  }

  private def tmp(prefix: String): String =
    graft.TempDirs.create(prefix).toString

  private def hamPairs(df: DataFrame): Set[(Long, Long, Int)] =
    df.select(col("id_a"), col("id_b"), col("hamming"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  private def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), Dedup.simhash(col("text")).as("fp"))

  /** 120 unit vectors plus a perturbed near-dup (id 1000+i) of every
    * third one. */
  private lazy val (baseVecs: DataFrame, dupVecs: DataFrame) = {
    import spark.implicits._
    def unit(seed: Int): Array[Float] = {
      val raw = Array.tabulate(32)(i =>
        (((seed * 1297 + i * 31 + 7) * 2654435761L % 1000).toInt - 500) / 500.0f)
      val n = math.sqrt(raw.map(x => x * x).sum).toFloat
      raw.map(_ / n)
    }
    ((0 until 120).map(i => (i.toLong, unit(i))).toDF("vec_id", "embedding"),
      (0 until 120 by 3).map { i =>
        val v = unit(i).clone(); v(0) = v(0) + 0.15f
        (1000L + i, v)
      }.toDF("vec_id", "embedding"))
  }

  private def pairs(df: DataFrame): Set[(Long, Long, Double)] =
    df.select(col("id_a"), col("id_b"), round(col("jaccard"), 9).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def storeRows(path: String): Set[(Long, Int, Seq[Long], Seq[Long])] =
    spark.read.parquet(s"$path/docs")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("n"),
        r.getAs[Seq[Long]]("sig"), r.getAs[Seq[Long]]("elems"))).toSet

  test("indexed query == inline funnel on the union, restricted to increment pairs") {
    val path = tmp("mh_idx")
    Dedup.buildMinhashIndex(storeDocs, col("text"), col("doc_id"), path)
    val indexed = pairs(Dedup.nearDupAgainstIndex(spark, path, incrementDocs,
      col("text"), col("doc_id")))

    val newIds = incrementDocs.select("doc_id").collect().map(_.getLong(0)).toSet
    val inline = pairs(Dedup.minhashLSH(
        storeDocs.unionByName(incrementDocs), col("text"), col("doc_id")))
      .filter { case (a, b, _) => newIds(a) || newIds(b) }

    assert(inline.nonEmpty, "fixture must produce near-dup pairs")
    assert(indexed === inline)
    // both cross (store-increment) and increment-internal pairs appear
    assert(indexed.exists { case (a, b, _) => a < 1000L && b >= 1000L })
    assert(indexed.exists { case (a, b, _) => a >= 1000L && b >= 1000L })
  }

  test("chargram mode: indexed query == inline ngramJaccardPairs on the union") {
    val path = tmp("mh_cg")
    Dedup.buildMinhashIndex(storeDocs, col("text"), col("doc_id"), path,
      shingleK = 3, numHashes = 128, bands = 16, mode = "chargram")
    val indexed = pairs(Dedup.nearDupAgainstIndex(spark, path, incrementDocs,
      col("text"), col("doc_id"), jaccardThreshold = 0.8))

    // DEFAULT arguments on both sides: the indexed path must resolve
    // the chargram funnel's tight default cap (1000), not the shingle
    // one — a cap divergence would make indexed != inline by default
    val newIds = incrementDocs.select("doc_id").collect().map(_.getLong(0)).toSet
    val inline = pairs(Dedup.ngramJaccardPairs(
        storeDocs.unionByName(incrementDocs), col("text"), col("doc_id"),
        n = 3, threshold = 0.8, numHashes = 128, bands = 16))
      .filter { case (a, b, _) => newIds(a) || newIds(b) }

    assert(inline.nonEmpty, "fixture must produce chargram near-dup pairs")
    assert(indexed === inline)
  }

  test("half-build + append == full build; append is idempotent") {
    val half = tmp("mh_half"); val full = tmp("mh_full")
    Dedup.buildMinhashIndex(storeDocs, col("text"), col("doc_id"), half)
    Dedup.appendToMinhashIndex(spark, half, incrementDocs, col("text"), col("doc_id"))
    Dedup.buildMinhashIndex(storeDocs.unionByName(incrementDocs),
      col("text"), col("doc_id"), full)
    assert(storeRows(half) === storeRows(full))

    val before = spark.read.parquet(s"$half/docs").count()
    Dedup.appendToMinhashIndex(spark, half, incrementDocs, col("text"), col("doc_id"))
    assert(spark.read.parquet(s"$half/docs").count() === before,
      "replayed append must not duplicate stored docs")
  }

  test("containment index: indexed query == inline pairs touching the increment; append idempotent") {
    val path = tmp("ct_idx")
    Dedup.buildContainmentIndex(storeDocs, col("text"), col("doc_id"), path)
    val indexed = pairs(Dedup.containmentAgainstIndex(spark, path,
        incrementDocs, col("text"), col("doc_id"))
      .withColumnRenamed("containment", "jaccard"))

    val newIds = incrementDocs.select("doc_id").collect().map(_.getLong(0)).toSet
    val inline = pairs(Dedup.containmentPairs(
        storeDocs.unionByName(incrementDocs), col("text"), col("doc_id"))
      .withColumnRenamed("containment", "jaccard"))
      .filter { case (a, b, _) => newIds(a) || newIds(b) }

    assert(inline.nonEmpty, "fixture must produce containment pairs")
    assert(indexed === inline)

    val before = spark.read.parquet(s"$path/docs").count()
    Dedup.appendToContainmentIndex(spark, path, incrementDocs, col("text"), col("doc_id"))
    Dedup.appendToContainmentIndex(spark, path, incrementDocs, col("text"), col("doc_id"))
    assert(spark.read.parquet(s"$path/docs").count() === before + newIds.size)
  }

  test("cosine index: indexed query == inline pairs touching the increment; append idempotent") {
    val (base, dups) = (baseVecs, dupVecs)
    val path = tmp("cos_idx")
    Similarity.buildCosineIndex(base, col("vec_id"), col("embedding"), path,
      planes = 8, dims = 32, tables = 8)
    def cosPairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val indexed = cosPairs(Similarity.cosinePairsAgainstIndex(spark, path,
      dups, col("vec_id"), col("embedding"), threshold = 0.9))

    val newIds = dups.select("vec_id").collect().map(_.getLong(0)).toSet
    val inline = cosPairs(Similarity.cosinePairs(base.unionByName(dups),
        col("vec_id"), col("embedding"), threshold = 0.9,
        planes = 8, dims = 32, tables = 8))
      .filter { case (a, b, _) => newIds(a) || newIds(b) }

    assert(inline.nonEmpty, "fixture must produce cosine pairs")
    assert(indexed === inline)

    val before = spark.read.parquet(s"$path/docs").count()
    Similarity.appendToCosineIndex(spark, path, dups, col("vec_id"), col("embedding"))
    Similarity.appendToCosineIndex(spark, path, dups, col("vec_id"), col("embedding"))
    assert(spark.read.parquet(s"$path/docs").count() === before + newIds.size)
  }

  test("an index over zero docs, queried with the increment, == the inline funnel on the increment") {
    // the identity the shared funnels rest on: an inline funnel is its
    // against-index twin over an empty store
    val none = storeDocs.filter(lit(false))
    val incr = storeDocs.unionByName(incrementDocs)
    val mh = tmp("mh_empty")
    Dedup.buildMinhashIndex(none, col("text"), col("doc_id"), mh)
    val mhInline = pairs(Dedup.minhashLSH(incr, col("text"), col("doc_id")))
    assert(mhInline.nonEmpty)
    assert(pairs(Dedup.nearDupAgainstIndex(spark, mh, incr, col("text"), col("doc_id")))
      === mhInline)

    val cg = tmp("cg_empty")
    Dedup.buildMinhashIndex(none, col("text"), col("doc_id"), cg,
      shingleK = 3, numHashes = 128, bands = 16, mode = "chargram")
    val cgInline = pairs(Dedup.ngramJaccardPairs(incr, col("text"), col("doc_id"),
      n = 3, threshold = 0.8, numHashes = 128, bands = 16))
    assert(cgInline.nonEmpty)
    assert(pairs(Dedup.nearDupAgainstIndex(spark, cg, incr, col("text"), col("doc_id"),
      jaccardThreshold = 0.8)) === cgInline)

    val fp = tmp("fp_empty")
    Dedup.buildFingerprintIndex(fingerprints(none), fp)
    for (h <- Seq(3, 7)) {
      val fpInline = hamPairs(Dedup.hammingPairs(fingerprints(incr), maxHamming = h))
      assert(fpInline.nonEmpty, s"maxHamming $h")
      assert(hamPairs(Dedup.hammingAgainstIndex(spark, fp, fingerprints(incr),
        maxHamming = h)) === fpInline, s"maxHamming $h")
    }

    val ct = tmp("ct_empty")
    Dedup.buildContainmentIndex(none, col("text"), col("doc_id"), ct)
    def containment(df: DataFrame) = pairs(df.withColumnRenamed("containment", "jaccard"))
    val ctInline = containment(Dedup.containmentPairs(incr, col("text"), col("doc_id")))
    assert(ctInline.nonEmpty)
    assert(containment(Dedup.containmentAgainstIndex(spark, ct, incr,
      col("text"), col("doc_id"))) === ctInline)

    val cos = tmp("cos_empty")
    val vecs = baseVecs.unionByName(dupVecs)
    Similarity.buildCosineIndex(vecs.filter(lit(false)), col("vec_id"), col("embedding"),
      cos, planes = 8, dims = 32, tables = 8)
    def cosPairs(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val cosInline = cosPairs(Similarity.cosinePairs(vecs, col("vec_id"), col("embedding"),
      threshold = 0.9, planes = 8, dims = 32, tables = 8))
    assert(cosInline.nonEmpty)
    assert(cosPairs(Similarity.cosinePairsAgainstIndex(spark, cos, vecs,
      col("vec_id"), col("embedding"), threshold = 0.9)) === cosInline)
  }

  test("text simhash: indexed hamming query == inline simhashPairs on the union, restricted to increment pairs") {
    val path = tmp("sh_idx")
    Dedup.buildFingerprintIndex(fingerprints(storeDocs), path)
    val newIds = incrementDocs.select("doc_id").collect().map(_.getLong(0)).toSet
    for (h <- Seq(3, 7)) {
      val indexed = hamPairs(Dedup.hammingAgainstIndex(spark, path,
        fingerprints(incrementDocs), maxHamming = h))
      val inline = hamPairs(Dedup.simhashPairs(storeDocs.unionByName(incrementDocs),
          col("text"), col("doc_id"), maxHamming = h))
        .filter { case (a, b, _) => newIds(a) || newIds(b) }
      assert(inline.nonEmpty, s"fixture must produce simhash pairs at maxHamming $h")
      assert(indexed === inline, s"maxHamming $h")
    }
  }

  test("streaming append lands the same store as the batch append") {
    import spark.implicits._
    val path = tmp("mh_stream"); val batchPath = tmp("mh_batch")
    Dedup.buildMinhashIndex(storeDocs, col("text"), col("doc_id"), path)
    Dedup.buildMinhashIndex(storeDocs, col("text"), col("doc_id"), batchPath)
    Dedup.appendToMinhashIndex(spark, batchPath, incrementDocs,
      col("text"), col("doc_id"))

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingIngest.foreachBatch(
        mem.toDF().toDF("doc_id", "text"), tmp("mh_ckpt"))(
      (b, _) => Dedup.appendToMinhashIndex(b.sparkSession, path, b,
        col("text"), col("doc_id")))
    val rows = incrementDocs.collect().map(r => (r.getLong(0), r.getString(1)))
    mem.addData(rows.take(10): _*); q.processAllAvailable()
    mem.addData(rows.drop(10): _*); q.processAllAvailable()
    q.stop()

    assert(storeRows(path) === storeRows(batchPath))
    // a later increment finds its near-dup among the STREAMED docs
    val probe = incrementDocs.filter(col("doc_id") === 2000L)
      .withColumn("doc_id", lit(3000L))
    val found = pairs(Dedup.nearDupAgainstIndex(spark, path, probe,
      col("text"), col("doc_id")))
    assert(found.exists { case (a, b, _) => (a, b) == (2000L, 3000L) })
  }
}
