package graftbench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry

/** `curation_batch`: a fixed set of training-data queries from
  * [[graft.SparkEntry.queries]] over the committed document and
  * embedding tables. Each query runs once cold, then in warm passes for
  * the rest of the run, always to a noop sink; the seed shuffles the
  * query order. Each query's output is checked once per run against the
  * golden row count and order-insensitive digest. */
final class CurationBatch(args: Args) extends Workload {
  import CurationBatch._

  private val order: Seq[String] = new scala.util.Random(args.seed).shuffle(Queries)
  private var inputRows = Map.empty[String, Long]

  def setup(spark: SparkSession): Unit = {
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    inputRows = Tables.map(t => t -> SparkEntry.table(spark, args.data, t).count()).toMap
  }

  def measure(spark: SparkSession, rec: Recorder): Outcome = {
    val recording = sys.props.contains("graftbench.recordGolden")
    val golden = if (recording) Map.empty[String, (Long, String)]
                 else Golden.read(Paths.get(args.golden, GoldenFile))
    var failures = Vector.empty[String]
    var attempted = 0L

    /** One query: build its DataFrame, then run it — cold runs collect
      * the rows for the golden check, warm runs write to the noop sink. */
    def run(name: String, kind: String): Option[Seq[Row]] = {
      attempted += 1
      hygiene(spark)
      val res = scala.util.Try(rec.call(kind, name) { sc =>
        val df = sc.phase("build")(SparkEntry.queries(name)(spark, args.data))
        sc.phase("action") {
          if (kind == "cold") { val rows = df.collect().toSeq; sc.result(rows.size); rows }
          else { df.write.format("noop").mode("overwrite").save(); Nil }
        }
      })
      res.failed.foreach(e => failures :+= s"$name ($kind): threw $e")
      res.toOption
    }

    val digests = order.flatMap(name => run(name, "cold").map(rows => name -> Golden.digest(rows))).toMap
    if (recording)
      Golden.write(Paths.get(args.golden, GoldenFile), digests.toSeq.sortBy(_._1))
    else failures ++= verify(digests, golden)
    val firstS = rec.all.filter(_.kind == "cold").map(_.nanos).sum / 1e9

    val deadline = System.nanoTime() + args.seconds * 1000000000L
    var passes = 0
    while (passes < MinPasses || System.nanoTime() < deadline) {
      order.foreach(run(_, "warm"))
      passes += 1
    }

    val warm = rec.all.filter(_.kind == "warm")
    val medians = warm.groupBy(_.name).map { case (n, cs) => n -> Stats.median(cs.map(_.ms)) }
    val warmS = medians.values.sum / 1e3
    // graft.Bench's warm convention: interference only ever adds time, so
    // each query's fastest warm run is its steadiest figure
    val fastest = warm.groupBy(_.name).map { case (n, cs) => n -> cs.map(_.ms).min }
    val fastestS = fastest.values.sum / 1e3
    val tail = Stats.tail(warm.map(_.ms))
    val rows = Queries.map(q => inputRows(QueryTable(q))).sum
    def phaseMs(p: String) = warm.flatMap(_.phases.filter(_._1 == p)).map(x => (x._3 - x._2).toDouble).sum / warm.size
    val buildJobs = rec.tracer.map { t =>
      warm.map(c => t.jobsOf(c).count(_.phase.contains("build"))).sum.toDouble / warm.size
    }.getOrElse(0.0)
    Outcome(
      endToEnd = Map(
        "call_ms" -> Stats.geoMean(fastest.values.toSeq),
        "rows_per_s" -> rows / fastestS),
      detail = Map(
        "batch_first_s" -> firstS, "batch_warm_s" -> warmS, "batch_warm_fastest_s" -> fastestS,
        "call_median_ms" -> Stats.geoMean(medians.values.toSeq), "warm_passes" -> passes,
        "warm_tail_ms" -> tail.map(_.value), "warm_tail_pct" -> tail.map(_.percentile),
        "warm_samples" -> warm.size,
        "query_order" -> order,
        "query_warm_ms" -> medians.toSeq.sortBy(_._1).toMap,
        "query_cold_ms" -> rec.all.filter(_.kind == "cold").map(c => c.name -> c.ms).toMap,
        "jvm_gc_s" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
          .map(_.getCollectionTime).sum / 1e3),
      attempted = attempted,
      failures = failures,
      groups = Seq("" -> warm.map(c => c.copy(resultRows = golden.get(c.name).map(_._1).getOrElse(0L)))),
      layers = Map(
        "entry.build_ms" -> phaseMs("build"),
        "entry.build_jobs" -> buildJobs,
        "entry.action_ms" -> phaseMs("action")))
  }
}

object CurationBatch {
  /** Before each query (untimed): drop cached tables and collect garbage,
    * so the previous query's persisted blocks and shuffle files are
    * released now rather than inside the next measurement. */
  def hygiene(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
  }

  /** Query -> the input table it reads. */
  val QueryTable: Map[String, String] = Map(
    "dedup_minhash_pairs" -> "documents", "bpe_token_count" -> "documents",
    "mm_webp_real" -> "documents")
  val Queries: Seq[String] = QueryTable.keys.toSeq.sorted
  val Tables: Seq[String] = QueryTable.values.toSeq.distinct.sorted
  val MinPasses = 3

  /** Failures of the golden check: a query whose (rows, digest) differs
    * from its golden entry, or has none. */
  def verify(got: Map[String, (Long, String)], golden: Map[String, (Long, String)]): Seq[String] =
    got.toSeq.sortBy(_._1).flatMap { case (name, d) =>
      golden.get(name) match {
        case Some(g) if g == d => None
        case Some(g) => Some(s"$name: got ${d._1} rows digest ${d._2}, golden ${g._1} rows ${g._2}")
        case None => Some(s"$name: no golden digest")
      }
    }
  val GoldenFile = "curation_digests.tsv"
}

/** Golden outputs: row count and an order-insensitive digest per query. */
object Golden {
  /** (rows, sha-256 of the sorted canonical row strings). Doubles are
    * compared to 8 significant digits, so a different summation order
    * does not change the digest. */
  def digest(rows: Seq[Row]): (Long, String) = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(canon).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    (rows.size.toLong, Stats.hex(md.digest()))
  }

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d == 0.0) "0" else if (d.isNaN || d.isInfinite) d.toString else f"$d%.8g"
    case f: Float => canon(f.toDouble)
    case b: Array[Byte] => Stats.hex(MessageDigest.getInstance("SHA-256").digest(b))
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  def read(p: java.nio.file.Path): Map[String, (Long, String)] =
    Files.readAllLines(p).asScala.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(n, rows, d) = l.split("\t")
      n -> (rows.toLong, d)
    }.toMap

  def write(p: java.nio.file.Path, entries: Seq[(String, (Long, String))]): Unit =
    Files.write(p, ("# query\trows\tsha256 of sorted canonical rows\n" +
      entries.map { case (n, (r, d)) => s"$n\t$r\t$d\n" }.mkString).getBytes("UTF-8"))
}
