package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** JSONL ingestion contracts: quarantine-not-crash, deterministic id
  * synthesis, and single-pass reading with an explicit schema. */
class IngestSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def fixture(): String = {
    val dir = graft.TempDirs.create("jsonl")
    val lines = Seq(
      """{"id": 1, "text": "a good document", "source": "web", "lang": "en"}""",
      """{"text": "no id, gets a content hash", "source": "web", "lang": "en"}""",
      """{"text": "no id, gets a content hash", "source": "web", "lang": "en"}""",
      """{"id": 4, "source": "web", "lang": "en"}""",
      """this is not json at all""",
      """{"id": 6, "text": "fine again", "source": "books", "lang": "de"}""")
    java.nio.file.Files.write(dir.resolve("part-0.jsonl"),
      lines.mkString("\n").getBytes)
    dir.toString
  }

  test("malformed and text-less lines quarantine; the rest normalize") {
    val (docs, quarantine) = Ingest.jsonlDocuments(spark, fixture())
    val d = docs.collect()
    assert(d.length === 4)
    assert(d.map(_.getLong(0)).contains(1L))
    val reasons = quarantine.collect()
      .map(r => r.getString(1)).groupBy(identity).view.mapValues(_.length).toMap
    assert(reasons === Map("malformed_json" -> 1, "missing_text" -> 1))
  }

  test("content-hash ids are deterministic and identical for identical content") {
    val (docs, _) = Ingest.jsonlDocuments(spark, fixture())
    val synth = docs.filter("doc_id != 1 AND doc_id != 6").collect()
    assert(synth.length === 2)
    // identical (text, source) => identical synthesized id, every run
    assert(synth.map(_.getLong(0)).distinct.length === 1)
    val (again, _) = Ingest.jsonlDocuments(spark, fixture())
    assert(again.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ===
      docs.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("explicit schema plans exactly one scan of the input") {
    val (docs, _) = Ingest.jsonlDocuments(spark, fixture())
    val scans = "Scan json".r
      .findAllIn(docs.queryExecution.executedPlan.toString).length
    assert(scans === 1, docs.queryExecution.executedPlan.toString)
  }
}
