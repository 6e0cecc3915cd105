package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Literal,
  RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext,
  ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One fused kernel as data: a static method of [[Kernels]] (or
  * [[PqKernels]]) plus what Catalyst needs to call it. `sigs` lists
  * the accepted column input types, each naming the method it
  * dispatches to (array inputs match whatever their element
  * nullability); constant parameters follow the column inputs in
  * the method's parameter list. `sql` is the kernel's form on the
  * SQL surface ([[graft.GraftExtensions]]), if it has one. */
final class Kernel private[functions] (
    val name: String,
    val sigs: Seq[(Seq[DataType], String)],
    val result: Seq[DataType] => DataType,
    val sql: Option[SqlForm],
    owner: AnyRef) {

  /** Number of column inputs. */
  val arity: Int = sigs.head._1.size

  private[functions] def ownerClass: Class[_] = owner.getClass

  /** The method these input types dispatch to, if they are accepted. */
  def method(in: Seq[DataType]): Option[String] = {
    def accepts(want: DataType, got: DataType): Boolean = (want, got) match {
      case (ArrayType(w, _), ArrayType(g, _)) => w == g
      case _ => want == got
    }
    sigs.collectFirst {
      case (ts, m) if ts.size == in.size && ts.zip(in).forall((accepts _).tupled) => m
    }
  }

  def needs: String = sigs.map { case (ts, _) =>
    if (ts.size == 1) ts.head.sql else ts.map(_.sql).mkString("(", ", ", ")")
  }.mkString(" or ")

  def call(inputs: Seq[Expression], constants: Seq[Any]): KernelCall =
    KernelCall(this, inputs, constants.map(Kernel.constant))

  /** Column API: the column inputs, then the constant parameters. */
  def apply(args: Any*): Column = {
    val (cols, constants) = args.span(_.isInstanceOf[Column])
    GraftColumnBridge.column(call(
      cols.map(c => GraftColumnBridge.expression(c.asInstanceOf[Column])), constants))
  }

  override def toString: String = name
}

object Kernel {
  /** A constant parameter as an argument of the static call.
    * Primitives inline into the generated code as literals; objects
    * (strings, arrays, lookup tables) are [[ReferenceConstant]]s. */
  def constant(v: Any): Expression = v match {
    case i: Int => Literal(i)
    case d: Double => Literal(d)
    case r: AnyRef => ReferenceConstant(r)
  }
}

/** A constant that rides as a codegen reference object, so the
  * generated code — and the codegen cache entry — is the same whatever
  * its value. Kernel calls pass their object parameters this way
  * (every BPE merge round reuses one compile), and kairos reads their
  * per-call bucket bounds ([[ReferenceConstant.long]]): whole-stage
  * codegen inlines a `long` literal into the Java source, so each new
  * time range would compile new classes. Unlike a `Literal`, it is
  * not folded, and it compares by value, arrays element-wise, so two
  * calls with equal parameters are semantically equal: a `GROUP BY`
  * on a call matches the same call in the select list, and
  * subexpression elimination and exchange reuse see them as one. */
case class ReferenceConstant(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("refConst", value, CodeGenerator.boxedType(dataType))
    val code =
      if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${CodeGenerator.javaType(dataType)}Value()"
      else ref
    ExprCode.forNonNullValue(JavaCode.expression(code, dataType))
  }
  override def equals(other: Any): Boolean = other match {
    case ReferenceConstant(v, t) => t == dataType && java.util.Objects.deepEquals(value, v)
    case _ => false
  }
  private lazy val valueHash = java.util.Arrays.deepHashCode(Array[AnyRef](value.asInstanceOf[AnyRef]))
  override def hashCode(): Int = valueHash
  override def toString: String = dataType match {
    case _: ObjectType => s"const:${value.getClass.getSimpleName}"
    case _ => s"const:$value"
  }
}

object ReferenceConstant {
  /** An object constant, typed by its class. */
  def apply(value: AnyRef): ReferenceConstant = ReferenceConstant(value, ObjectType(value.getClass))

  /** A `long` value as a column that compiles the same for every value. */
  def long(v: Long): Column = GraftColumnBridge.column(ReferenceConstant(Long.box(v), LongType))
}

/** SQL form of a kernel: its `graft_*` name, one parser per trailing
  * literal argument, and the constants the SQL form fixes after
  * them. Literal parameters parameterize codegen, so a column where
  * a literal belongs fails with a named error. */
final case class SqlForm(name: String,
    lits: Seq[(Expression, String, Int) => Any] = Nil,
    fixed: () => Seq[Any] = () => Nil)

object SqlForm {
  def intLit(e: Expression, fn: String, pos: Int): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: argument ${pos + 1} must be an INTEGER literal, got $other")
  }

  def strLit(e: Expression, fn: String, pos: Int): String = e match {
    case Literal(v: UTF8String, StringType) => v.toString
    case other => throw new IllegalArgumentException(
      s"$fn: argument ${pos + 1} must be a STRING literal, got $other")
  }
}

/** A call of one [[Kernel]]: type-checked against the kernel's
  * signatures (a wrong input type fails analysis with
  * "<name> needs <types>, got …" — no implicit casts), named by the
  * kernel in plans and column names, and replaced during
  * optimization by the `StaticInvoke` of the dispatched method, which
  * whole-stage codegen compiles to a direct static call. Null in any
  * input yields null. */
case class KernelCall(kernel: Kernel, children: Seq[Expression],
    constants: Seq[Expression]) extends RuntimeReplaceable {
  private def inputTypes: Seq[DataType] = children.map(_.dataType)
  override def prettyName: String = kernel.name
  override def dataType: DataType = kernel.result(inputTypes)
  override def nullable: Boolean = children.exists(_.nullable)
  override def checkInputDataTypes(): TypeCheckResult =
    if (kernel.method(inputTypes).isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${kernel.name} needs ${kernel.needs}, got ${inputTypes.mkString(" / ")}")
  // the first signature's method stands in while the inputs are still
  // unchecked (canonicalization can run before the type check reports)
  override lazy val replacement: Expression = StaticInvoke(kernel.ownerClass,
    dataType, kernel.method(inputTypes).getOrElse(kernel.sigs.head._2),
    children ++ constants, propagateNull = true, returnNullable = false)
  override protected def stringArgs: Iterator[Any] = children.iterator
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KernelCall =
    copy(children = newChildren)
}

/** Every graft scalar kernel, declared once: the Column facades
  * ([[GraftFunctions]], [[PqFunctions]]), the SQL registry and the
  * kernel spec all read these rows. */
object KernelTable {
  private val rows = ArrayBuffer.empty[Kernel]

  /** All rows, in declaration order. */
  def all: Seq[Kernel] = rows.toSeq

  private def add(k: Kernel): Kernel = { rows += k; k }

  private def row(name: String, result: DataType, sql: SqlForm = null,
      owner: AnyRef = Kernels)(sigs: (Seq[DataType], String)*): Kernel =
    add(new Kernel(name, sigs, _ => result, Option(sql), owner))

  private val S = StringType
  private val Bin = BinaryType
  private val L = LongType
  private val D = DoubleType
  private def arr(t: DataType): DataType = ArrayType(t, containsNull = false)
  private def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })
  private def sqlFn(name: String, lits: ((Expression, String, Int) => Any)*) =
    SqlForm(name, lits)
  private val int: (Expression, String, Int) => Any = SqlForm.intLit
  private val str: (Expression, String, Int) => Any = SqlForm.strLit

  // ---- text ----------------------------------------------------------
  val simhash64 = row("simhash64", L, sqlFn("graft_simhash64"))(Seq(S) -> "simhash64")
  val deflateLen = row("deflate_len", L, sqlFn("graft_deflate_len"))(Seq(S) -> "deflateLen")
  val unicodeNormalize = row("unicode_normalize", S,
    sqlFn("graft_unicode_normalize", str))(Seq(S) -> "unicodeNormalize")
  val blocklistStats = row("blocklist_stats",
    struct("n_hits" -> L, "n_matched" -> L))(Seq(S) -> "blocklistStats")
  val mojibakeFix = row("mojibake_fix", struct("text" -> S, "rounds" -> IntegerType),
    sqlFn("graft_mojibake_fix"))(Seq(S) -> "mojibakeFix")
  val confusableFold = row("confusable_fold", S,
    sqlFn("graft_confusable_fold"))(Seq(S) -> "confusableFold")
  val sentenceSplit = row("sentence_split", arr(S),
    sqlFn("graft_sentence_split"))(Seq(S) -> "sentenceSplit")
  val mainContent = row("main_content", struct("main_text" -> S,
      "n_blocks" -> L, "n_content_blocks" -> L, "content_chars" -> L,
      "boiler_chars" -> L),
    // the facade's defaults; Seq[Any] keeps 25 an Int (not 25.0)
    SqlForm("graft_main_content", fixed = () => Seq[Any](25, 0.33)))(
    Seq(S) -> "mainContent")
  val textStatsCounts = row("text_stats", struct("n_tokens" -> L,
      "n_bpeish" -> L, "n_alpha" -> L, "len" -> L, "n_stop" -> L, "n_nonws" -> L),
    sqlFn("graft_text_stats"))(Seq(S) -> "textStatsCounts")
  val langMarkerCounts = row("lang_marker_counts", arr(L),
    sqlFn("graft_lang_marker_counts"))(Seq(S) -> "langMarkerCounts")
  val repetitionStats = row("repetition_stats", struct("dup_line_frac" -> D,
      "dup_line_char_frac" -> D, "top2_char_frac" -> D, "dup5_char_frac" -> D),
    sqlFn("graft_repetition_stats"))(Seq(S) -> "repetitionStats")
  val rollingHash = row("rolling_hash", L,
    sqlFn("graft_rolling_hash"))(Seq(S) -> "rollingFingerprint")
  val bpeCount = row("bpe_count", L)(Seq(S) -> "bpeTokenCount")
  // keeps its input's array type, element nullability included
  val mergeFold = add(new Kernel("merge_fold",
    Seq(Seq(ArrayType(S)) -> "mergeFold"), _.head, None, Kernels))

  // ---- grams and fingerprints ---------------------------------------
  val charGrams = row("char_grams", arr(S), sqlFn("graft_char_grams", int))(
    Seq(S) -> "charGrams")
  val wordShingles = row("word_shingles", arr(S))(Seq(S) -> "wordShingles")
  val charNgramsDistinct = row("char_ngrams_distinct", arr(S))(
    Seq(S) -> "charNgramsDistinct")
  val wordGramsLower = row("word_grams_lower", arr(S))(Seq(S) -> "wordGramsLower")
  val charNgramHashes = row("char_ngram_hashes", arr(L),
    sqlFn("graft_char_ngram_hashes", int))(Seq(S) -> "charNgramHashes")
  val wordGramHashes = row("word_gram_hashes", arr(L),
    sqlFn("graft_word_gram_hashes", int))(Seq(S) -> "wordGramHashes")
  val winnowFp = row("winnow_fp", arr(L), sqlFn("graft_winnow", int, int))(
    Seq(S) -> "winnowFingerprints")
  val minhashSig = row("minhash_sig", arr(L), sqlFn("graft_minhash_sig", int))(
    Seq(ArrayType(S)) -> "minhashSigStr", Seq(ArrayType(L)) -> "minhashSigLong")

  // ---- set and vector similarity ------------------------------------
  val jaccardSim = row("jaccard", D, sqlFn("graft_jaccard"))(
    Seq(ArrayType(S), ArrayType(S)) -> "jaccardStr",
    Seq(ArrayType(L), ArrayType(L)) -> "jaccardLong")
  val containmentSim = row("containment", D, sqlFn("graft_containment"))(
    Seq(ArrayType(L), ArrayType(L)) -> "containmentLong")
  val sigMatch = row("sig_match", D)(
    Seq(ArrayType(L), ArrayType(L)) -> "sigMatchFraction")
  val cosineSim = row("cosine", D, sqlFn("graft_cosine"))(
    Seq(ArrayType(FloatType), ArrayType(FloatType)) -> "cosineFloat",
    Seq(ArrayType(D), ArrayType(D)) -> "cosineDouble")
  val quantizeQ8 = row("quantize_q8", arr(ByteType), sqlFn("graft_quantize_q8"))(
    Seq(ArrayType(FloatType)) -> "quantizeQ8")
  val cosineSimQ8 = row("cosine_q8", D, sqlFn("graft_cosine_q8"))(
    Seq(ArrayType(ByteType), ArrayType(ByteType)) -> "cosineQ8")
  val lshBuckets = row("lsh_buckets", arr(L))(Seq(ArrayType(FloatType)) -> "lshBuckets")
  val projectCentered = row("project_centered", arr(D))(
    Seq(ArrayType(FloatType)) -> "projectCentered")
  val rangeBucket = row("range_bucket", IntegerType)(Seq(S, L) -> "rangeBucket")

  // ---- media ---------------------------------------------------------
  val phash64 = row("phash64", L, sqlFn("graft_phash64"))(Seq(Bin) -> "phash64")

  // ---- crawl ingest --------------------------------------------------
  private val decoded = struct("charset" -> S, "text" -> S, "n_bytes" -> L)
  val charsetDecode = row("charset_decode", decoded, sqlFn("graft_charset_decode"))(
    Seq(Bin) -> "charsetDecode")
  val charsetDecodeHint = row("charset_decode_hint", decoded,
    sqlFn("graft_charset_decode_hint"))(Seq(Bin, S) -> "charsetDecodeHint")
  val httpResponse = row("http_response", struct("status" -> IntegerType,
      "content_type" -> S, "charset_hint" -> S, "content_encoding" -> S,
      "n_headers" -> IntegerType, "body" -> Bin),
    sqlFn("graft_http_response"))(Seq(Bin) -> "httpResponse")
  val robotsRules = row("robots_rules", arr(struct("pattern" -> S,
      "allow" -> BooleanType, "rank" -> IntegerType, "like" -> S)),
    sqlFn("graft_robots_rules", str))(Seq(S) -> "robotsRules")
  val robotsCrawlDelay = row("robots_crawl_delay", D,
    sqlFn("graft_robots_crawl_delay", str))(Seq(S) -> "robotsCrawlDelay")
  val sitemapEntries = row("sitemap_entries", arr(StructType(Seq(
      StructField("kind", S, nullable = false),
      StructField("loc", S, nullable = false),
      StructField("lastmod", S, nullable = true)))),
    sqlFn("graft_sitemap_entries"))(Seq(Bin) -> "sitemapEntries")
  val percentNormalize = row("percent_normalize", S,
    sqlFn("graft_percent_normalize"))(Seq(S) -> "percentNormalize")
  val resolveRef = row("resolve_ref", S, sqlFn("graft_resolve_ref"))(
    Seq(S, S) -> "resolveRef")
  val registeredDomain = row("registered_domain", S,
    SqlForm("graft_registered_domain", fixed = () => Seq(publicSuffixes)))(
    Seq(S) -> "registeredDomain")
  private lazy val publicSuffixes = SuffixTables(
    graft.ops.Urls.MultiPartSuffixes, graft.ops.Urls.ThreePartSuffixes,
    graft.ops.Urls.WildcardSuffixBases, graft.ops.Urls.SuffixExceptions)

  // ---- product quantization ------------------------------------------
  val pqEncode = row("pq_encode", arr(ByteType), owner = PqKernels)(
    Seq(ArrayType(FloatType)) -> "pqEncode")
  val pqLut = row("pq_lut", arr(D), owner = PqKernels)(
    Seq(ArrayType(FloatType)) -> "pqLut")
  val pqAdcCosine = row("pq_adc", D, owner = PqKernels)(
    Seq(ArrayType(D), ArrayType(ByteType), D) -> "pqAdcCosine")
  val pqAdcDot = row("pq_adc_dot", D, owner = PqKernels)(
    Seq(ArrayType(D), ArrayType(ByteType)) -> "pqAdcDot")
  val pqReconNorm = row("pq_recon_norm", D, owner = PqKernels)(
    Seq(ArrayType(ByteType), ArrayType(D)) -> "pqReconNorm")
}
