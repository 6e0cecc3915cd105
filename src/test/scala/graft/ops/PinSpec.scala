package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}

/** Every pair and scoring funnel leaves through [[Layout.pin]]: its
  * result is pinned before it returns, the caches its plan read are
  * released, and `spark.graft.checkpoint.dir` turns the pin into a
  * reliable checkpoint written under that directory. Over the
  * sf0.001 fixture. */
class PinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  private def noCache: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  test("every funnel exit releases its caches; hashedVectors too") {
    val dir = graft.TempDirs.create("graft-pin-funnels")
    val (mh, ct, fp, cos, ph, au) = (s"$dir/minhash", s"$dir/contain",
      s"$dir/fp", s"$dir/cos", s"$dir/phash", s"$dir/audio")
    val (old, fresh) = (docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50))
    Dedup.buildMinhashIndex(old, col("text"), col("doc_id"), mh)
    Dedup.buildContainmentIndex(old, col("text"), col("doc_id"), ct)
    val fps = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("fp"))
    Dedup.buildFingerprintIndex(fps.filter(col("doc_id") >= 50), fp)
    Similarity.buildCosineIndex(emb.filter(col("vec_id") >= 50),
      col("vec_id"), col("embedding"), cos)
    val media = Multimodal.asMediaTable(docs)
    Multimodal.buildPhashIndex(media.filter(col("doc_id") >= 50),
      col("doc_id"), col("media"), ph)
    val wav = udf((id: Long, txt: String) => Multimodal.syntheticWav(id, txt))
    val audio = docs.filter(col("doc_id") < 100)
      .select(col("doc_id"), wav(col("doc_id"), col("text")).as("media"))
    Multimodal.buildAudioFpIndex(audio.filter(col("doc_id") >= 50), au)
    val text = col("text")
    val id = col("doc_id")
    val funnels: Seq[(String, () => DataFrame)] = Seq(
      "minhashLSH" -> (() => Dedup.minhashLSH(docs, text, id, perDocCap = 5,
        hotElemFrac = 0.5)),
      "nearDupAgainstIndex" -> (() => Dedup.nearDupAgainstIndex(spark, mh, fresh, text, id)),
      "ngramJaccardPairs" -> (() => Dedup.ngramJaccardPairs(docs, text, id)),
      "simhashPairs" -> (() => Dedup.simhashPairs(docs, text, id, maxHamming = 7)),
      "hammingPairs" -> (() => Dedup.hammingPairs(fps, maxHamming = 3)),
      "hammingAgainstIndex" -> (() => Dedup.hammingAgainstIndex(spark, fp,
        fps.filter(col("doc_id") < 50), maxHamming = 7)),
      "containmentPairs" -> (() => Dedup.containmentPairs(docs, text, id,
        bucketCap = 200, perDocCap = 5, bucketFrac = 0.5)),
      "containmentAgainstIndex" -> (() => Dedup.containmentAgainstIndex(spark, ct,
        fresh, text, id, bucketCap = 200)),
      "cosinePairs" -> (() => Similarity.cosinePairs(emb, col("vec_id"),
        col("embedding"), threshold = 0.45, planes = 0)),
      "cosinePairsAgainstIndex" -> (() => Similarity.cosinePairsAgainstIndex(spark, cos,
        emb.filter(col("vec_id") < 50), col("vec_id"), col("embedding"), threshold = 0.45)),
      "sparseCosinePairs" -> (() => Similarity.sparseCosinePairs(
        TextOps.hashedTfIdf(docs, text, id), threshold = 0.85, dfFrac = 0.5)),
      "semanticDedup" -> (() => Similarity.semanticDedup(emb, col("vec_id"),
        col("embedding"), nClusters = 8)),
      "semanticDedupByCluster" -> (() => Similarity.semanticDedupByCluster(emb,
        col("vec_id"), col("embedding"), col("label"))),
      "phashPairs" -> (() => Multimodal.phashPairs(media, id, col("media"))),
      "phashAgainstIndex" -> (() => Multimodal.phashAgainstIndex(spark, ph,
        media.filter(col("doc_id") < 50), id, col("media"))),
      "audioFingerprintPairs" -> (() => Multimodal.audioFingerprintPairs(audio)),
      "audioFpAgainstIndex" -> (() => Multimodal.audioFpAgainstIndex(spark, au,
        audio.filter(col("doc_id") < 50))),
      "scoreTrigram" -> (() => LangModel.scoreTrigram(docs, text, id)),
      "scoreKnTrigram" -> (() => LangModel.scoreKnTrigram(docs, text, id)),
      "scoreBigram" -> (() => LangModel.scoreBigram(docs, text, id)),
      "scoreKnBigram" -> (() => LangModel.scoreKnBigram(docs, text, id)),
      "hashedTfIdf" -> (() => TextOps.hashedTfIdf(docs, text, id)),
      "hashedVectors" -> (() => TextOps.hashedVectors(docs, text, id)),
      "logWeights" -> (() => Dsir.logWeights(docs, text, id, col("lang") === "en")))
    for ((name, run) <- funnels) {
      spark.catalog.clearCache()
      run()
      assert(noCache, s"$name left a cached table behind")
    }
  }

  test("spark.graft.checkpoint.dir makes a funnel's pin a reliable checkpoint there") {
    val sc = spark.sparkContext
    assume(sc.getCheckpointDir.isEmpty, "another suite set a checkpoint dir")
    val dir = graft.TempDirs.create("graft-pin-reliable")
    def written: Long = Files.walk(dir).filter((p: Path) =>
      p.getFileName.toString.startsWith("part-")).count()
    def pairs = Dedup.simhashPairs(docs, col("text"), col("doc_id"), maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val local = pairs
    assert(written === 0L)
    try {
      spark.conf.set("spark.graft.checkpoint.dir", dir.toString)
      assert(pairs === local)
      assert(written > 0L, s"nothing written under $dir")
    } finally {
      spark.conf.unset("spark.graft.checkpoint.dir")
      sc.setCheckpointDir(null)
    }
  }

  test("a pin's jobs carry its caller's line as their description, then the old one returns") {
    val sc = spark.sparkContext
    val l = new graft.Harness.RunListener(spark)
    try {
      sc.setJobDescription("outer")
      l.drain()
      val line = new Throwable().getStackTrace.head.getLineNumber + 1
      Layout.pin(spark.range(0, 100, 1, 4).groupBy(col("id") % 7).count())
      val (jobs, _) = l.drain()
      assert(jobs.nonEmpty && jobs.forall(_.desc == s"pin PinSpec.scala:$line"),
        jobs.map(_.desc))
      assert(sc.getLocalProperty("spark.job.description") === "outer")
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(l)
    }
  }
}
