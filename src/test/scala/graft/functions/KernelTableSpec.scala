package graft.functions

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftExtensions
import graft.ops.Urls

/** Walks every [[KernelTable]] row and every signature of it: the
  * call compiles into whole-stage codegen (no CodegenFallback, and
  * codegen fallback disabled so a compile error fails) and the
  * interpreted path agrees, null input gives null, a wrong input type
  * fails analysis naming the kernel, and each SQL-exposed row's
  * `graft_*` function equals the Column API bit for bit. */
class KernelTableSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftExtensions.register(s)
    s
  }

  /** One fixture value per input type, keyed by the type's SQL name
    * (array inputs match any element nullability). Vectors have 4
    * dims = PQ m 2 × ds 2; TINYINT codes stay below ks 2. */
  private val values: Seq[(String, Column)] = Seq(
    "STRING" -> lit("The quick brown fox. The quick dog!\nthe end\nthe end"),
    "BINARY" -> lit(("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8" +
      "\r\n\r\n<html><p>café body</p></html>").getBytes("UTF-8")),
    "BIGINT" -> lit(7L),
    "DOUBLE" -> lit(2.0),
    "ARRAY<STRING>" -> typedLit(Seq("t", "h", "e", "t", "h")),
    "ARRAY<BIGINT>" -> typedLit(Seq(1L, 2L, 3L)),
    "ARRAY<FLOAT>" -> typedLit(Seq(1.0f, -2.0f, 3.0f, 0.5f)),
    "ARRAY<DOUBLE>" -> typedLit(Seq(0.5, 1.0, -1.5, 2.0)),
    "ARRAY<TINYINT>" -> typedLit(Seq(0.toByte, 1.toByte)))
  private def colOf(t: DataType): String =
    "c" + values.indexWhere(_._1 == t.sql)

  private val codebook = Array.tabulate(8)(i => i * 0.25 - 1.0)
  private def u8(xs: String*): Array[UTF8String] = xs.map(UTF8String.fromString).toArray

  /** Constant parameters per row; rows missing here take none. */
  private val constants: Map[String, Seq[Any]] = Map(
    "unicode_normalize" -> Seq("NFKC"),
    "blocklist_stats" -> Seq(Array("the", "quick")),
    "main_content" -> Seq[Any](25, 0.33),
    "bpe_count" -> Seq(Array("t", "h", "th", "e")),
    "merge_fold" -> Seq(u8("t", "h", "th", "e")),
    "char_grams" -> Seq(3),
    "word_shingles" -> Seq(2),
    "char_ngrams_distinct" -> Seq(3),
    "word_grams_lower" -> Seq(2),
    "char_ngram_hashes" -> Seq(3),
    "word_gram_hashes" -> Seq(2),
    "winnow_fp" -> Seq(4, 3),
    "minhash_sig" -> Seq(8),
    "lsh_buckets" -> Seq(3, 4, 2),
    "project_centered" -> Seq(Array(0.5, 0.5, 0.5, 0.5), Array.fill(8)(0.25), 2, 4),
    "range_bucket" -> Seq(u8("a", "m"), Array(1L, 5L)),
    "robots_rules" -> Seq("graftbot"),
    "robots_crawl_delay" -> Seq("graftbot"),
    "registered_domain" -> Seq(new SuffixTables(Urls.MultiPartSuffixes,
      Urls.ThreePartSuffixes, Urls.WildcardSuffixBases, Urls.SuffixExceptions)),
    "pq_encode" -> Seq(codebook, 2, 2, 2),
    "pq_lut" -> Seq(codebook, 2, 2, 2),
    "pq_adc" -> Seq(Array(1.0, 2.0, 3.0, 4.0), 2),
    "pq_adc_dot" -> Seq(2),
    "pq_recon_norm" -> Seq(codebook, 2, 2))

  /** Row 0 holds every fixture value, row 1 nulls only. Built over
    * `range` so the projection is planned (a local relation would be
    * folded away on the driver). */
  private lazy val fixture: DataFrame = {
    val df = spark.range(2).select(col("id") +: values.indices.map(i =>
      when(col("id") === 0, values(i)._2).as(s"c$i")): _*)
    df.createOrReplaceTempView("kernel_fixture")
    df
  }

  private def withConf[A](kvs: (String, String)*)(f: => A): A = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** The plan nodes fused into a whole-stage codegen stage. */
  private def fused(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: InputAdapter => Nil
    case w: WholeStageCodegenExec => fused(w.child)
    case _ => p +: p.children.flatMap(fused)
  }

  test("every row's name and SQL name is unique, and the SQL surface is 31 kernels + 2 aggregates") {
    val rows = KernelTable.all
    assert(rows.map(_.name).distinct.size === rows.size)
    assert(rows.size === 46)
    assert(rows.count(_.sql.isDefined) === 31)
    val names = GraftExtensions.registrations.map(_._1)
    assert(names.size === 33 && names.distinct.size === 33)
    assert(names.forall(_.startsWith("graft_")))
    assert((constants.keySet -- rows.map(_.name)).isEmpty, "stale constants")
  }

  for (k <- KernelTable.all) {
    test(s"row ${k.name}: fused in codegen, null in gives null out, wrong type fails analysis") {
      val consts = constants.getOrElse(k.name, Nil)
      for ((types, method) <- k.sigs) {
        def out = fixture.select(col("id"),
          k(types.map(t => col(colOf(t))) ++ consts: _*).as("out"))
        val compiled = out
        val rows = withConf("spark.sql.codegen.fallback" -> "false")(compiled.collect())
          .sortBy(_.getLong(0))
        assert(rows(0).get(1) != null, s"$method on the fixture")
        assert(rows(1).isNullAt(1), s"$method on null input")
        // the interpreted path (kernels inside higher-order lambdas
        // run there) gives the same rows
        val interpreted = withConf("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(out.collect())
        assert(interpreted.sortBy(_.getLong(0)).toSeq === rows.toSeq, s"$method interpreted")
        val plan = compiled.queryExecution.executedPlan
        val calls = plan.collect { case w: WholeStageCodegenExec => fused(w) }.flatten
          .flatMap(_.expressions.flatMap(_.collect {
            case si: StaticInvoke => si.functionName
          }))
        assert(calls.contains(method), s"$method outside whole-stage codegen:\n$plan")
        assert(!plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[CodegenFallback]))),
          s"CodegenFallback in\n$plan")
      }
      val wrong = intercept[AnalysisException] {
        fixture.select(k(Seq.fill(k.arity)(col("id").cast("int")) ++ consts: _*))
      }
      assert(wrong.getMessage.contains(s"${k.name} needs"), wrong.getMessage)
    }
  }

  for (k <- KernelTable.all; s <- k.sql) {
    test(s"row ${k.name}: ${s.name} through spark.sql equals the Column API bit for bit") {
      val consts = constants.getOrElse(k.name, Nil)
      val lits = consts.take(s.lits.size).map {
        case v: String => s"'$v'"
        case v => v.toString
      }
      val f = fixture
      for ((types, _) <- k.sigs) {
        val cols = types.map(colOf)
        val viaSql = spark.sql(s"SELECT id, ${s.name}(${(cols ++ lits).mkString(", ")}) " +
          "FROM kernel_fixture").collect().sortBy(_.getLong(0))
        val viaCol = f.select(col("id"), k(cols.map(col) ++ consts: _*))
          .collect().sortBy(_.getLong(0))
        assert(viaSql.toSeq === viaCol.toSeq)
      }
    }
  }

  test("calls with equal constant parameters are semantically equal; unequal ones are not") {
    import spark.implicits._
    Seq("www.example.co.uk", "a.example.co.uk", "b.example.com", null).toDF("h")
      .createOrReplaceTempView("hosts")
    val grouped = spark.sql("SELECT graft_registered_domain(h) AS d, count(*) AS n " +
      "FROM hosts GROUP BY graft_registered_domain(h)")
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(grouped === Map(Some("example.co.uk") -> 2L, Some("example.com") -> 1L,
      None -> 1L))
    // both before and after the kernel call is replaced by its static call
    def same(a: Column, b: Column): Boolean = {
      val qe = spark.range(1).select(col("id").cast("string").as("s"),
        array(col("id").cast("string")).as("a"), col("id").as("k")).select(a, b)
        .queryExecution
      Seq(qe.analyzed, qe.optimizedPlan).map { p =>
        val Seq(x, y) = p.expressions.map { case al: Alias => al.child }
        x.semanticEquals(y)
      }.reduce { (l, r) => assert(l == r); l }
    }
    assert(same(Urls.registeredDomain(col("s")), Urls.registeredDomain(col("s"))))
    val rules = Array("a", "b")
    assert(same(GraftFunctions.mergeFold(col("a"), rules),
      GraftFunctions.mergeFold(col("a"), rules)))
    assert(same(GraftFunctions.mergeFold(col("a"), rules),
      GraftFunctions.mergeFold(col("a"), Array("a", "b"))))
    assert(!same(GraftFunctions.mergeFold(col("a"), rules),
      GraftFunctions.mergeFold(col("a"), Array("a", "c"))))
    assert(same(GraftFunctions.rangeBucket(col("s"), col("k"), Array("m"), Array(1L)),
      GraftFunctions.rangeBucket(col("s"), col("k"), Array("m"), Array(1L))))
    assert(!same(GraftFunctions.rangeBucket(col("s"), col("k"), Array("m"), Array(1L)),
      GraftFunctions.rangeBucket(col("s"), col("k"), Array("m"), Array(2L))))
  }

  test("calls that differ only in constant values reuse one compiled stage") {
    val df = spark.range(4).select(
      array(lit("a"), lit("b"), col("id").cast("string")).as("s"))
    def run(rules: Array[String]) =
      df.select(GraftFunctions.mergeFold(col("s"), rules)).collect()
    run(Array("x", "y"))
    val compiles = CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount
    assert(run(Array("a", "b")).head.getSeq[String](0) === Seq("ab", "0"))
    assert(run(Array("b", "0")).head.getSeq[String](0) === Seq("a", "b0"))
    assert(CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount === compiles)
  }

  test("every registered function resolves through spark.sql") {
    import spark.implicits._
    Seq(("a b c d", "b c d e")).toDF("x", "y").createOrReplaceTempView("t")
    val r = spark.sql("""
      SELECT graft_simhash64(x) AS sh,
             graft_word_gram_hashes(x, 2) AS wg,
             graft_char_ngram_hashes(x, 3) AS cg,
             graft_minhash_sig(graft_word_gram_hashes(x, 1), 8) AS mh,
             graft_jaccard(split(x, ' '), split(y, ' ')) AS j,
             graft_containment(graft_word_gram_hashes(x, 1),
                               graft_word_gram_hashes(y, 1)) AS c,
             graft_rolling_hash(x) AS rh,
             graft_text_stats(x).n_tokens AS nt,
             graft_repetition_stats(x).dup_line_frac AS dl,
             graft_winnow(x, 2, 2) AS w,
             graft_phash64(cast(x AS BINARY)) AS ph
      FROM t""").head()
    assert(r.getDouble(4) === 0.6) // |{b,c,d}| / |{a,b,c,d,e}|
    assert(r.getLong(7) === 4L)
    assert(r.getDouble(8) === 0.0)
    assert(r.getSeq[Long](1).length === 3) // distinct 2-grams of 4 tokens
  }
}
