package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._

/** Text-analysis operators for training-data pipelines: token counting,
  * quality scoring, language identification, fingerprinting. All pure
  * column expressions (codegen'd, no UDFs), so they pipeline inside
  * whatever scan they're applied to.
  */
object TextOps {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    size(split(trim(text), "\\s+"))

  /** BPE-ish token count: word pieces + standalone punctuation, the
    * usual pre-tokenizer regex shape. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Compression-ratio quality columns (CCNet/RefinedWeb-lineage
    * signal, computed by the codegen'd [[graft.functions.Kernels
    * .deflateLen]] zlib kernel inside the scan): raw UTF-8 byte
    * length, raw-DEFLATE byte length, their ratio, and a three-way
    * verdict — highly compressible text is template boilerplate /
    * repetition ('boilerplate', ratio < `loRatio`), incompressible
    * text is random-ish junk ('junk', ratio > `hiRatio`). Catches
    * ANY redundancy structure, complementing the counted n-gram
    * classes of [[repetitionColumns]]. Deflate bytes depend on the
    * JVM's zlib, so the signal is engine-specific (rows-only driver
    * check; structural spec). */
  def compressionColumns(text: Column, loRatio: Double = 0.25,
      hiRatio: Double = 1.0): Seq[Column] = {
    val raw = octet_length(text).cast(LongType)
    val dl = graft.functions.GraftFunctions.deflateLen(text)
    val ratio = dl.cast(DoubleType) / greatest(raw, lit(1L)).cast(DoubleType)
    Seq(raw.as("raw_len"), dl.as("deflate_len"),
      round(ratio, 4).as("compression_ratio"),
      when(raw === 0, lit("empty"))
        .when(ratio < loRatio, lit("boilerplate"))
        .when(ratio > hiRatio, lit("junk"))
        .otherwise(lit("ok")).as("compression_verdict"))
  }

  /** Document-shape heuristics: Flesch-style readability (vowel-group
    * syllable estimate — the classic public approximation) and
    * code-ness (structural-symbol density + keyword rate). Both are
    * routing signals: readability gates conversational/educational
    * slices, code-ness splits code from prose BEFORE language-specific
    * stages. Pure regex-count column compositions (codegen, RE2-safe,
    * engine-portable); ratios are pinned-tree int quotients presented
    * on the luck-free floor grid by callers. */
  def sentenceCount(text: Column): Column =
    greatest(size(regexp_extract_all(text, lit("[.!?]+"), lit(0))), lit(1))
  def syllableEstimate(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[aeiouy]+"), lit(0)))
  def fleschScore(text: Column): Column = {
    val w = greatest(tokenCount(text), lit(1)).cast(DoubleType)
    val s = sentenceCount(text).cast(DoubleType)
    val sy = syllableEstimate(text).cast(DoubleType)
    lit(206.835) - lit(1.015) * (w / s) - lit(84.6) * (sy / w)
  }
  def codeSymbolCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[{}();=<>\\[\\]]"), lit(0)))
  def codeKeywordCount(text: Column): Column =
    size(regexp_extract_all(lower(text),
      lit("\\b(?:def|class|return|import|if|else|for|while|var|val|function)\\b"),
      lit(0)))

  /** HTML → text extraction, the first stage of every web-crawl
    * pipeline. Deliberately a COMPOSITION of built-in regexp/replace
    * columns (codegen'd, no UDF, engine-portable) with a precise
    * contract rather than a browser-grade parser: script/style
    * blocks and comments drop WITH their content, every remaining
    * tag becomes a space (so '</p><p>' never glues words), the five
    * core entities + &nbsp; decode (&amp; LAST, so '&amp;lt;' yields
    * the literal '&lt;' and double-decoding cannot manufacture
    * tags), whitespace collapses. Patterns are the RE2-safe subset
    * ((?is), lazy .*?, [^>]) so the same expressions run verbatim in
    * any engine. */
  def htmlToText(html: Column): Column = {
    val noScript = regexp_replace(html,
      "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    visibleText(noComment)
  }

  /** Tag strip → entity decode → whitespace collapse (the shared tail
    * of [[htmlToText]] and the per-block normalization of
    * [[extractMainContent]]): every tag becomes a space, the five core
    * entities + &nbsp; decode (&amp; LAST so double-decoding cannot
    * manufacture tags), whitespace collapses, ends trimmed. */
  private def visibleText(c: Column): Column = {
    val noTags = regexp_replace(c, "<[^>]*>", " ")
    val ent = F.replace(
      F.replace(
        F.replace(
          F.replace(
            F.replace(
              F.replace(noTags, lit("&nbsp;"), lit(" ")),
              lit("&lt;"), lit("<")),
            lit("&gt;"), lit(">")),
          lit("&quot;"), lit("\"")),
        lit("&#39;"), lit("'")),
      lit("&amp;"), lit("&"))
    trim(regexp_replace(ent, "\\s+", " "))
  }

  /** Block-boundary tags: a candidate content block ends wherever one
    * of these opens or closes. Inline markup (a, b, i, em, span, …)
    * stays INSIDE its block — anchors in particular must, because
    * link density is the block-level boilerplate signal. (Re-export of
    * the kernel's single source of truth.) */
  val BlockTagRe: String = graft.functions.Kernels.BlockTagReStr

  /** MAIN-CONTENT extraction — the boilerplate/chrome removal stage a
    * real crawl pipeline runs before any dedup or quality signal
    * (tag-strip alone feeds nav/footer chrome straight into both).
    * Block-level text/link-density classification in the public
    * jusText / Arc90-readability family, as a pure composition of
    * built-in expressions (codegen'd, RE2-safe, restated 1:1 in the
    * DuckDB oracle):
    *
    *  1. structural boilerplate containers drop wholesale with their
    *     content: script, style, nav, header, footer, aside, comments
    *     (non-greedy to the matching close tag; unclosed tags keep
    *     their content and fall through to block scoring);
    *  2. the remainder splits into candidate blocks at
    *     [[BlockTagRe]] boundaries;
    *  3. each block normalizes to visible text and scores its LINK
    *     DENSITY = anchor-text chars / total chars (`<a>` runs are
    *     measured before tags strip);
    *  4. a block is content iff its text is ≥ `minChars` chars AND
    *     link density ≤ `maxLinkDensity` — short fragments (titles,
    *     timestamps, button labels) and link farms (menus, related-
    *     article lists, tag clouds) are boilerplate;
    *  5. content blocks re-join with '\n'.
    *
    * Returns struct(main_text, n_blocks, n_content_blocks,
    * content_chars, boiler_chars); n_blocks counts NON-EMPTY blocks.
    * At 100 TB this is one projection inside the scan — no shuffle,
    * no UDF: the default path is the fused codegen'd kernel
    * ([[graft.functions.Kernels.mainContent]], same java.util.regex
    * engine Spark's regexp functions use); the pure-built-in Column
    * formulation below ([[extractMainContentCols]]) is the
    * oracle-shaped reference the spec pins the kernel against —
    * higher-order array expressions evaluate INTERPRETED in Spark,
    * which measured ~10× slower per document. */
  def extractMainContent(html: Column, minChars: Int = 25,
      maxLinkDensity: Double = 0.33): Column =
    graft.functions.GraftFunctions.mainContent(html, minChars, maxLinkDensity)

  /** The reference formulation of [[extractMainContent]] as a pure
    * composition of built-in expressions — restated 1:1 in the DuckDB
    * oracle; output equality with the kernel is spec-pinned. */
  def extractMainContentCols(html: Column, minChars: Int = 25,
      maxLinkDensity: Double = 0.33): Column = {
    val noStruct = Seq("script", "style", "nav", "header", "footer", "aside")
      .foldLeft(html)((c, t) =>
        regexp_replace(c, s"(?is)<$t\\b[^>]*>.*?</$t>", " "))
    val clean = regexp_replace(noStruct, "(?s)<!--.*?-->", " ")
    val scored = transform(split(clean, BlockTagRe), b => struct(
      visibleText(b).as("t"),
      coalesce(aggregate(
        transform(regexp_extract_all(b, lit("(?is)<a\\b[^>]*>(.*?)</a>"), lit(1)),
          a => length(visibleText(a))),
        lit(0), (acc, x) => acc + x), lit(0)).as("ll")))
    val blocks = F.filter(scored, s => s.getField("t") =!= "")
    val content = F.filter(blocks, s =>
      length(s.getField("t")) >= minChars &&
        s.getField("ll").cast(DoubleType) <=
          lit(maxLinkDensity) * length(s.getField("t")).cast(DoubleType))
    val contentChars = coalesce(aggregate(content, lit(0),
      (acc, s) => acc + length(s.getField("t"))), lit(0))
    val totalChars = coalesce(aggregate(blocks, lit(0),
      (acc, s) => acc + length(s.getField("t"))), lit(0))
    struct(
      array_join(transform(content, s => s.getField("t")), "\n").as("main_text"),
      size(blocks).cast(LongType).as("n_blocks"),
      size(content).cast(LongType).as("n_content_blocks"),
      contentChars.cast(LongType).as("content_chars"),
      (totalChars - contentChars).cast(LongType).as("boiler_chars"))
  }

  /** Multi-pattern blocklist screening via the Aho-Corasick kernel
    * ([[graft.functions.Kernels.AcAutomaton]]): total match
    * occurrences, distinct patterns hit, and the pass/block verdict,
    * in ONE O(len) scan per document however long the blocklist —
    * the per-pattern `contains()` alternative is O(len × patterns)
    * passes and is how naive blocklist stages melt at 100 TB. The
    * automaton builds once per executor JVM per pattern set (the
    * broadcast-variable shape, carried in the expression); matching
    * is case-insensitive via lower() on both sides — and BOTH sides
    * go through Spark's UTF8String lowercase, so locale-sensitive
    * codepoints (Turkish İ, etc.) fold identically; mixing
    * String.toLowerCase with lower() can silently never match. */
  def blocklistColumns(text: Column, patterns: Seq[String]): Seq[Column] = {
    val pats = patterns.map(p =>
      org.apache.spark.unsafe.types.UTF8String.fromString(p)
        .toLowerCase.toString).toArray
    val st = graft.functions.GraftFunctions.blocklistStats(lower(text), pats)
    Seq(st.getField("n_hits").as("block_hits"),
      st.getField("n_matched").as("block_patterns"),
      (st.getField("n_hits") > 0).as("blocked"))
  }

  /** Quality signals: length, alpha ratio, mean word length, stopword
    * ratio. Returned as separate columns; `qualityScore` combines
    * them. */
  def alphaRatio(text: Column): Column =
    length(regexp_replace(text, "[^A-Za-z]", "")).cast(DoubleType) /
      greatest(length(text), lit(1))
  def meanWordLen(text: Column): Column =
    length(regexp_replace(text, "\\s+", "")).cast(DoubleType) /
      greatest(tokenCount(text), lit(1))

  val enStopwords: Seq[String] = Seq("the", "a", "an", "and", "or", "of",
    "to", "in", "is", "it", "that", "for", "on", "with", "as")

  def stopwordRatio(text: Column, stopwords: Seq[String] = enStopwords): Column = {
    val toks = Dedup.tokens(text)
    size(F.filter(toks, t => t.isin(stopwords: _*))).cast(DoubleType) /
      greatest(size(toks), lit(1))
  }

  /** Composite document quality score in [0,1]: favors alpha text with
    * some stopwords and sane word lengths — the standard cheap filter
    * before expensive pipeline stages. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast(DoubleType) / 500.0, lit(1.0))
    val alpha = alphaRatio(text)
    val stop = least(stopwordRatio(text) * 5.0, lit(1.0))
    val wordLen = meanWordLen(text)
    val wordLenScore = when(wordLen.between(3.0, 10.0), 1.0).otherwise(0.5)
    round((lenScore * 0.25 + alpha * 0.35 + stop * 0.2 + wordLenScore * 0.2), 6)
  }

  /** Marker lexicons for the n-gram language-ID heuristic (canonical
    * data lives next to the fused kernel). */
  val langMarkers: Seq[(String, Seq[String])] =
    graft.functions.Kernels.langMarkerData

  /** Language-ID heuristic: argmax of marker-token hit counts, with a
    * deterministic tie order (marker list order; "und" when nothing
    * matches — i.e. unknown). */
  def langId(text: Column): Column = {
    val toks = Dedup.tokens(text)
    // array of struct(score, priority, lang); array_max picks highest
    // score, then LOWEST priority via negated index, then lang
    val scored = array(langMarkers.zipWithIndex.map { case ((lang, markers), idx) =>
      struct(
        size(F.filter(toks, t => t.isin(markers: _*))).as("score"),
        lit(-idx).as("prio"),
        lit(lang).as("lang"))
    }: _*)
    val best = array_max(scored)
    when(best("score") > 0, best("lang")).otherwise(lit("und"))
  }

  /** Fused [[langId]]: marker-hit counts from one tokenization pass
    * ([[graft.functions.GraftFunctions.langMarkerCounts]]); the argmax/tie/und logic
    * stays the identical Column expression, so results match the
    * per-language filter formulation exactly. */
  def langIdFused(text: Column): Column = {
    val m = graft.functions.GraftFunctions.langMarkerCounts(text)
    val scored = array(langMarkers.zipWithIndex.map { case ((lang, _), idx) =>
      struct(
        element_at(m, idx + 1).as("score"),
        lit(-idx).as("prio"),
        lit(lang).as("lang"))
    }: _*)
    val best = array_max(scored)
    when(best("score") > 0, best("lang")).otherwise(lit("und"))
  }

  /** Fused [[qualityScore]]: every input ratio comes from the single
    * [[graft.functions.GraftFunctions.textStatsCounts]] pass; the score arithmetic is
    * written term-for-term like the unfused version (same double
    * association order), so values are bit-identical. */
  def qualityScoreFused(text: Column): Column = {
    val c = graft.functions.GraftFunctions.textStatsCounts(text)
    val lenScore = least(c.getField("len").cast(DoubleType) / 500.0, lit(1.0))
    val alpha = c.getField("n_alpha").cast(DoubleType) / greatest(c.getField("len"), lit(1L))
    val stop = least(c.getField("n_stop").cast(DoubleType) /
      greatest(c.getField("n_tokens"), lit(1L)) * 5.0, lit(1.0))
    val wordLen = c.getField("n_nonws").cast(DoubleType) / greatest(c.getField("n_tokens"), lit(1L))
    val wordLenScore = when(wordLen.between(3.0, 10.0), 1.0).otherwise(0.5)
    round((lenScore * 0.25 + alpha * 0.35 + stop * 0.2 + wordLenScore * 0.2), 6)
  }

  /** The full text_stats feature row from ONE fused pass over the text
    * ([[graft.functions.GraftFunctions.textStatsCounts]] emits the six counters in a
    * single codegen kernel instead of six regex passes); the ratio
    * arithmetic and rounding stay Column expressions, so values are
    * bit-identical to the per-feature functions above. */
  def statsColumns(text: Column): Seq[Column] = {
    val c = graft.functions.GraftFunctions.textStatsCounts(text)
    Seq(
      c.getField("n_tokens").as("n_tokens"),
      c.getField("n_bpeish").as("n_bpeish"),
      round(c.getField("n_alpha").cast(DoubleType) /
        greatest(c.getField("len"), lit(1L)), 6).as("alpha_ratio"),
      round(c.getField("n_stop").cast(DoubleType) /
        greatest(c.getField("n_tokens"), lit(1L)), 6).as("stop_ratio"),
      round(c.getField("n_nonws").cast(DoubleType) /
        greatest(c.getField("n_tokens"), lit(1L)), 6).as("mean_word_len"),
      fingerprint(text).as("fp"))
  }

  /** Gopher repetition filter columns (Rae et al. 2021, table A1) from
    * ONE fused pass ([[graft.functions.GraftFunctions.repetitionStats]]): duplicate
    * line / duplicate line character fractions, top word-2-gram
    * character mass, duplicate word-5-gram character mass — the
    * boilerplate/spam signals the length+ratio family above can't see.
    * Map-only: no shuffle at any corpus scale. */
  def repetitionColumns(text: Column): Seq[Column] = {
    val r = graft.functions.GraftFunctions.repetitionStats(text)
    Seq("dup_line_frac", "dup_line_char_frac", "top2_char_frac",
      "dup5_char_frac").map(f => r.getField(f).as(f))
  }

  /** The eight "required" stopwords of the Gopher quality rules
    * (Rae et al. 2021, appendix A1.1): a document must contain at
    * least two of them to pass the stopword rule. Public constant —
    * the paper lists them verbatim. */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Luck-free presentation grid shared with the DuckDB oracles:
    * floor(x·1e6 + 0.5)/1e6 is exact in binary doubles for the
    * magnitudes involved, so both engines land on the same number. */
  private def grid6(c: Column): Column =
    floor(c * lit(1e6) + lit(0.5)) / lit(1e6)

  /** Gopher document-quality rules (Rae et al. 2021, appendix A1.1)
    * as one map-only column family — the standard cheap doc-level
    * gate of large crawl pipelines, run BEFORE any shuffle-bearing
    * stage so rejected docs never cost a byte of network:
    *
    *   - `n_words`            ∈ [50, 100 000]
    *   - `mean_word_len`      ∈ [3, 10]
    *   - `sym_word_ratio`     ≤ 0.1   ('#', '...', '…' per word)
    *   - `bullet_line_frac`   ≤ 0.9   (lines starting -, •, *)
    *   - `ellipsis_line_frac` ≤ 0.3   (lines ending ... or …)
    *   - `alpha_word_frac`    ≥ 0.8   (words with ≥1 [A-Za-z])
    *   - `n_req_stopwords`    ≥ 2     (of [[gopherStopwords]])
    *
    * Ratios are presented on the 1e-6 floor grid and the `gopher_keep`
    * verdict compares the GRIDDED values, so engine and oracle agree
    * at rule boundaries. Lines split on '\n' (trailing empties kept),
    * words on whitespace runs after trim — both restate verbatim in
    * SQL. Everything derives from one `split` per axis; no shuffle at
    * any corpus scale. */
  def gopherColumns(text: Column): Seq[Column] = {
    val (stats, keep) = gopherParts(text)
    stats :+ keep.cast(IntegerType).as("gopher_keep")
  }

  /** Just the composite Gopher verdict (same thresholds as
    * [[gopherColumns]]'s `gopher_keep`) — for pipelines that gate on
    * the boolean without materializing the per-rule stats. */
  def gopherKeep(text: Column): Column = gopherParts(text)._2

  private def gopherParts(text: Column): (Seq[Column], Column) = {
    val words = split(trim(text), "\\s+")
    val nWords = size(words).cast("long")
    val wordsD = greatest(nWords, lit(1L)).cast(DoubleType)
    val meanWl = grid6(
      length(regexp_replace(text, "\\s+", "")).cast(DoubleType) / wordsD)
    val nSym = (regexp_count(text, lit("#")) +
      regexp_count(text, lit("\\.\\.\\.")) +
      regexp_count(text, lit("…"))).cast(DoubleType)
    val symRatio = grid6(nSym / wordsD)
    val lines = split(text, "\n", -1)
    val nLines = greatest(size(lines), lit(1)).cast(DoubleType)
    val bulletFrac = grid6(
      size(F.filter(lines, l => l.rlike("^[-•*]"))).cast(DoubleType) / nLines)
    val ellipsisFrac = grid6(
      size(F.filter(lines, l => l.rlike("(\\.\\.\\.|…)$"))).cast(DoubleType) / nLines)
    val alphaFrac = grid6(
      size(F.filter(words, w => w.rlike("[A-Za-z]"))).cast(DoubleType) / wordsD)
    val lowered = lower(text)
    val nStop = gopherStopwords
      .map(s => when(lowered.rlike("\\b" + s + "\\b"), 1L).otherwise(0L))
      .reduce(_ + _)
    val keep = nWords.between(50L, 100000L) &&
      meanWl.between(3.0, 10.0) && symRatio <= 0.1 &&
      bulletFrac <= 0.9 && ellipsisFrac <= 0.3 &&
      alphaFrac >= 0.8 && nStop >= 2L
    (Seq(nWords.as("n_words"), meanWl.as("mean_word_len"),
      symRatio.as("sym_word_ratio"), bulletFrac.as("bullet_line_frac"),
      ellipsisFrac.as("ellipsis_line_frac"), alphaFrac.as("alpha_word_frac"),
      nStop.as("n_req_stopwords")), keep)
  }

  /** C4-style line-level cleaning (Raffel et al. 2020, §2.2) — the
    * other canonical crawl gate, reconstructing each page from only
    * its "sentence-like" lines:
    *
    * line KEPT iff it ends in terminal punctuation (`.` `!` `?` `"`
    * after right-trim), has ≥ 3 whitespace words, and does not
    * contain "javascript" (case-insensitive). Document KEPT
    * (`c4_keep`) iff the raw page has no "lorem ipsum" and no `{`,
    * and the CLEANED text still has ≥ 5 sentence marks and ≥ 1 line.
    *
    * Returns the verdict columns rather than filtering, so callers
    * can audit drops (and the drop ledger can count them); map-only,
    * one `split` on '\n' feeding every column. */
  def c4CleanColumns(text: Column): Seq[Column] = {
    val lines = split(text, "\n", -1)
    val kept = F.filter(lines, l =>
      rtrim(l).rlike("[.!?\"]$") &&
        size(split(trim(l), "\\s+")) >= 3 &&
        !lower(l).contains("javascript"))
    val textClean = array_join(kept, "\n")
    val nLines = size(lines).cast("long")
    val nKept = size(kept).cast("long")
    val nSent = size(regexp_extract_all(textClean, lit("[.!?]+"), lit(0)))
      .cast("long")
    val keep = !lower(text).contains("lorem ipsum") &&
      !text.contains("{") && nSent >= 5L && nKept >= 1L
    Seq(textClean.as("text_clean"), nLines.as("n_lines"),
      nKept.as("n_kept"), nSent.as("n_sent_clean"),
      keep.cast(IntegerType).as("c4_keep"))
  }

  /** PII patterns, restricted to the portable regex subset (no
    * lookaround, no backreferences, ASCII classes) so Java regex (the
    * engine) and RE2-family engines (DuckDB, Go/Rust scanners) match
    * the same spans — redaction must not depend on which engine ran
    * the pass. */
  val emailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern: String = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  val ssnPattern: String = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"

  /** Match counts per PII kind: `n_email`, `n_ipv4`, `n_ssn`. */
  def piiCounts(text: Column): Seq[Column] = Seq(
    regexp_count(text, lit(emailPattern)).cast("long").as("n_email"),
    regexp_count(text, lit(ipv4Pattern)).cast("long").as("n_ipv4"),
    regexp_count(text, lit(ssnPattern)).cast("long").as("n_ssn"))

  /** Redact PII in place: emails → `<EMAIL>`, IPv4 → `<IP>`, SSNs →
    * `<SSN>`. Map-only; patterns are disjoint so application order is
    * immaterial. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "<EMAIL>"),
        ipv4Pattern, "<IP>"),
      ssnPattern, "<SSN>")

  /** Sentence-segmentation constants — re-exports of the kernel's
    * single source of truth (the [[BlockTagRe]] convention): multi-
    * dot abbreviations (literal substrings — they carry their own
    * dots, so a word boundary cannot cut them), word-bounded single
    * abbreviations (case-sensitive: "No. 5" is the abbreviation,
    * "He said no." is not), and the break rule. Data, not logic:
    * the engine fold, the fused kernel, and the oracle's replace
    * chain all generate from these lists. */
  val SentMultiDotAbbrevs: Seq[String] =
    graft.functions.Kernels.SentMultiDotAbbrevs
  val SentAbbrevs: Seq[String] = graft.functions.Kernels.SentAbbrevs

  /** Sentence-break rule: terminator run (. ! ?), optional closing
    * quote/bracket, whitespace, then a sentence OPENER (capital,
    * digit, opening quote/bracket). Capture-and-reinsert instead of
    * lookarounds so the same pattern runs under both Java regex and
    * the oracle's RE2; the explicit whitespace class is the
    * dialect-independent intersection of the two engines' `\s`. */
  val SentBreakRe: String = graft.functions.Kernels.SentBreakReStr

  /** Rule-based sentence segmentation: protect abbreviations (dots →
    * a sentinel), insert a break sentinel at [[SentBreakRe]]
    * boundaries, split, restore, trim, drop empties. Decimal numbers
    * ("3.14") never split (no whitespace follows the dot); an
    * ellipsis followed by a lowercase continuation stays in its
    * sentence; a terminator inside closing quotes splits after the
    * quote. Sentinel bytes (U+0001/U+0002) are stripped from the
    * input first, so the contract is total.
    *
    * Default path: the fused kernel
    * ([[graft.functions.Kernels.sentenceSplitStr]]) — one call per
    * doc instead of ~48 chained regex nodes. The pure-Column twin
    * below ([[sentenceSplitColumns]]) is the restated-in-SQL oracle
    * reference; SentenceSpec pins the two against each other. */
  def sentenceSplit(text: Column): Column =
    graft.functions.GraftFunctions.sentenceSplit(text)

  def sentenceSplitColumns(text: Column): Column = {
    val s0 = regexp_replace(text, "[\u0001\u0002]", "")
    val s1 = SentMultiDotAbbrevs.foldLeft(s0)((acc, a) =>
      regexp_replace(acc, java.util.regex.Pattern.quote(a),
        a.replace(".", "\u0001")))
    val s2 = SentAbbrevs.foldLeft(s1)((acc, a) =>
      regexp_replace(acc, "\\b" + a + "\\.", a + "\u0001"))
    val s3 = regexp_replace(s2, SentBreakRe, "$1\u0002$2")
    filter(
      transform(split(s3, "\u0002"),
        x => trim(regexp_replace(x, "\u0001", "."))),
      x => x =!= "")
  }

  /** Page metadata: struct(title, description, og_title, canonical)
    * — the four head fields a crawl index keys on. `<title>` inner
    * text entity-decodes and whitespace-collapses; the meta/link
    * fields take the double-quoted `content`/`href` attribute with
    * the `name`/`property`/`rel` selector BEFORE it (the dominant
    * attribute order; documented scope). Missing fields are `''` —
    * `regexp_extract`'s no-match value, identical in the oracle's
    * dialect. Pure built-in expressions in the scan projection. */
  def htmlMeta(html: Column): Column = {
    def unesc(c: Column): Column =
      Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "'", "&amp;" -> "&").foldLeft(c) {
        case (acc, (from, to)) =>
          F.replace(acc, lit(from), lit(to))
      }
    val title = trim(regexp_replace(
      unesc(regexp_extract(html, "(?is)<title[^>]*>(.*?)</title>", 1)),
      "\\s+", " "))
    val desc = unesc(regexp_extract(html,
      "(?is)<meta\\s[^>]*name\\s*=\\s*[\"']description[\"'][^>]*" +
        "content\\s*=\\s*\"([^\"]*)\"", 1))
    val og = unesc(regexp_extract(html,
      "(?is)<meta\\s[^>]*property\\s*=\\s*[\"']og:title[\"'][^>]*" +
        "content\\s*=\\s*\"([^\"]*)\"", 1))
    val canon = regexp_extract(html,
      "(?is)<link\\s[^>]*rel\\s*=\\s*[\"']canonical[\"'][^>]*" +
        "href\\s*=\\s*\"([^\"]*)\"", 1)
    struct(title.as("title"), desc.as("description"),
      og.as("og_title"), canon.as("canonical"))
  }

  /** Mojibake repair — UTF-8 text misdecoded as windows-1252/latin-1
    * ("Ã©" → "é", "â€™" → "'"), up to two rounds for the re-published
    * double-mojibake pathology; pure ASCII, legitimate accents, and
    * anything outside cp1252's image pass through unchanged
    * ([[graft.functions.Kernels.mojibakeFixStr]]'s contract). Returns
    * (text, rounds); one codegen'd kernel call in the scan
    * projection — the natural stage right after charset decode,
    * before any text signal is computed. */
  def mojibakeFix(text: Column): Column =
    graft.functions.GraftFunctions.mojibakeFix(text)

  /** Content fingerprint: md5 of whitespace-normalized lowercase text —
    * the cheap "same modulo formatting" key. */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(trim(text), "\\s+", " ")).cast(BinaryType))

  /** Corpus vocabulary: one row per distinct token with document
    * frequency (`df` — documents containing it) and collection
    * frequency (`tf` — total occurrences). Tokenization is the
    * engine-wide [[Dedup.tokens]] (lowercased whitespace split).
    *
    * Shape: explode → one (token, doc) aggregate → one token
    * aggregate; both hash aggregations with map-side partials. The
    * vocabulary induction step before tokenizer training / OOV
    * analysis — at 100 TB the output is |vocab| rows, never the
    * corpus. */
  def vocabulary(docs: DataFrame, text: Column, id: Column): DataFrame =
    docs.select(id.as("doc_id"), explode(Dedup.tokens(text)).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token", "doc_id").agg(count(lit(1)).as("n"))
      .groupBy("token")
      .agg(count(lit(1)).as("df"), sum(col("n")).as("tf"))

  /** The top-`k` vocabulary by (df desc, tf desc, token asc) — a
    * deterministic total order, planned as TakeOrderedAndProject
    * (O(k) per partition, one bounded merge, no global sort). */
  def topVocabulary(docs: DataFrame, text: Column, id: Column,
      k: Int): DataFrame =
    vocabulary(docs, text, id)
      .orderBy(col("df").desc, col("tf").desc, col("token").asc)
      .limit(k)

  /** Persist the top-`k` vocabulary — write-once; OOV scans of later
    * corpora/increments read it back ([[oovRate]]) instead of
    * re-deriving corpus statistics. */
  def buildVocabIndex(docs: DataFrame, text: Column, id: Column,
      k: Int, path: String): Unit =
    topVocabulary(docs, text, id, k).write.mode("overwrite").parquet(path)

  /** Token-aligned sliding-window chunking — the context-window
    * shaping step of a training/RAG pipeline: each document becomes
    * ⌈(n_tok − chunk)/step⌉ + 1 chunks of up to `chunkTokens`
    * whitespace tokens, consecutive chunks sharing `overlapTokens`
    * (step = chunk − overlap), the LAST start chosen so the final
    * chunk reaches the document's end without a redundant
    * fully-contained tail. Output one row per chunk:
    * (doc_id, chunk_id 0-based, token_start 1-based, n_tokens,
    * chunk_md5) — the md5 of the space-joined token slice stands in
    * for chunk text so the result stays narrow at corpus scale (and
    * hash-comparable across engines); re-derive text downstream by
    * slicing, the same contract as [[Pack.chop]].
    *
    * Whole operator is one codegen'd projection over the scan (split,
    * slice, join, md5 — no UDFs, no shuffle); documents chunk
    * independently, so it partitions trivially at any corpus size. */
  def chunkTokens(docs: DataFrame, text: Column, id: Column,
      chunkTokens: Int, overlapTokens: Int): DataFrame = {
    require(chunkTokens > 0 && overlapTokens >= 0 &&
      overlapTokens < chunkTokens,
      "need 0 <= overlapTokens < chunkTokens")
    val step = chunkTokens - overlapTokens
    docs
      .select(id.as("doc_id"), split(trim(text), "\\s+").as("__tok"))
      .withColumn("__nt", size(col("__tok")))
      .withColumn("__n",
        when(col("__nt") <= chunkTokens, 1L)
          .otherwise(lit(1L) + ceil((col("__nt") - chunkTokens)
            .cast(DoubleType) / step).cast(LongType)))
      .select(col("doc_id"), col("__tok"),
        explode(sequence(lit(0L), col("__n") - 1L)).as("chunk_id"))
      .withColumn("__chunk",
        slice(col("__tok"), (col("chunk_id") * step + 1).cast(IntegerType),
          lit(chunkTokens)))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * step + 1).as("token_start"),
        size(col("__chunk")).cast(LongType).as("n_tokens"),
        md5(array_join(col("__chunk"), " ").cast(BinaryType)).as("chunk_md5"))
  }

  /** Per-group KL divergence of the vocabulary-restricted unigram
    * distribution from the corpus-wide one — the domain-drift audit
    * over a data mix: KL(P_group ‖ P_corpus) rising for a source means
    * its token distribution is pulling away from the blend (new crawl
    * behaving differently, a source gone off-topic, a language
    * mislabel). Distributions are over the STORED vocabulary
    * ([[buildVocabIndex]]) with add-k smoothing, so every group is
    * comparable on the same support and zero counts stay finite:
    * p_t = (c_{g,t}+k)/(n_g+kV), q_t = (c_t+k)/(N+kV),
    * kl = Σ_t p_t·ln(p_t/q_t), rounded 6.
    *
    * Shape: one token explode filtered by a broadcast vocab join (the
    * vocab is k rows by construction), two map-side-combined counts,
    * and a dense (group × vocab) grid built by a broadcast cross join —
    * grid rows = #groups · |vocab|, never corpus-scale. Groups with no
    * vocabulary occurrences at all are absent (no distribution to
    * compare); vocab tokens missing from a group enter at the smoothing
    * floor. */
  def klBySource(spark: org.apache.spark.sql.SparkSession, vocabPath: String,
      docs: DataFrame, text: Column, group: Column,
      k: Double = 0.5): DataFrame = {
    require(k > 0, "add-k smoothing needs k > 0")
    val vocab = spark.read.parquet(vocabPath).select(col("token"))
    // |vocab| is a driver scalar by the same contract that lets the
    // vocab broadcast: the store is top-k rows, bounded at build time
    val v = vocab.count()
    val occ = docs
      .select(group.as("group"), explode(Dedup.tokens(text)).as("token"))
      .filter(col("token") =!= "")
      .join(broadcast(vocab), Seq("token"))
      .groupBy("group", "token").agg(count(lit(1)).as("c"))
      .persist()
    val nG = occ.groupBy("group").agg(sum("c").as("n_g"))
    val cT = vocab.join(
        occ.groupBy("token").agg(sum("c").as("c_t")), Seq("token"), "left")
      .na.fill(0L, Seq("c_t"))
    val nAll = cT.agg(sum("c_t").as("n_all"))
    val grid = nG.crossJoin(broadcast(vocab))
      .join(occ, Seq("group", "token"), "left")
      .na.fill(0L, Seq("c"))
      .join(broadcast(cT), Seq("token"))
      .crossJoin(broadcast(nAll))
    val p = (col("c") + k) / (col("n_g") + lit(k) * v)
    val q = (col("c_t") + k) / (col("n_all") + lit(k) * v)
    // materialized (rows = #groups) so occ can release eagerly — the
    // same localCheckpoint+unpersist convention as the dedup funnels
    val out = grid.groupBy("group")
      .agg(first(col("n_g")).as("n_tokens"),
        round(sum(p * log(p / q)), 6).as("kl"))
      .localCheckpoint(true)
    occ.unpersist()
    out
  }

  /** Feature-hashed TF-IDF document vectors (public: the hashing
    * trick, Weinberger et al. 2009; smooth idf as in scikit-learn):
    * token → bucket by the portable md5 hash ([[Dsir.bucketOf]], so
    * any engine reproduces the bucketing verbatim), tf = in-document
    * occurrences, idf = ln((N+1)/(df+1)) + 1, weight = tf·idf,
    * L2-normalized per document. Emitted SPARSE and EXPLODED as
    * (doc_id, pos, w) — the engine-comparable form, and the form a
    * 100 TB corpus wants anyway (dense 1024-wide rows of mostly
    * zeros waste ~20× the bytes at typical document lengths).
    *
    * The text→vector bridge with no external model: feed
    * [[hashedVectors]]' dense form to any Similarity op (semantic
    * dedup, hard negatives, ANN) when no embedding column exists.
    *
    * Shape: one token explosion → one (doc_id, b) count (map-side
    * combined); df and N derive from the counts table (no second
    * corpus pass); the N scalar broadcasts. */
  def hashedTfIdf(docs: DataFrame, text: Column, id: Column,
      buckets: Int = 1024, roundTo: Int = 6,
      materialize: Boolean = true): DataFrame = {
    // per-doc bucket counts — feeds df, N, AND the weights.
    // [[Dsir.bucketOf]]'s 16-bit md5 slice saturates at 65536 distinct
    // values; large feature spaces (collision-free-ish hashing for
    // similarity work, e.g. 2^30) take a 48-bit slice of the same md5
    // — still portable (any engine reproduces substring(md5)). The two
    // expressions are NOT equivalent (pmod of the first-12-hex-chars
    // value differs from pmod of the first-4-hex-chars value for
    // general bucket counts); the <= 2^16 branch below is what
    // preserves the old bucketing for every registered oracle — do
    // not collapse the branch.
    val bucket =
      if (buckets <= (1 << 16)) Dsir.bucketOf(col("token"), buckets)
      else pmod(conv(substring(md5(col("token").cast(BinaryType)), 1, 12),
        16, 10).cast(LongType), lit(buckets.toLong))
    val d = docs
      .select(id.as("doc_id"), explode(Dedup.tokens(text)).as("token"))
      .filter(col("token") =!= "")
      .select(col("doc_id"), bucket.as("pos"))
      .groupBy("doc_id", "pos").agg(count(lit(1)).as("tf"))
      .persist()
    val df = d.groupBy("pos").agg(count(lit(1)).as("df"))
    val n = d.agg(countDistinct("doc_id").as("n_docs"))
    val w = col("tf") * (log((col("n_docs") + lit(1)) / (col("df") + lit(1))) + 1)
    val weighted = d.join(df, Seq("pos")).crossJoin(broadcast(n))
      .select(col("doc_id"), col("pos"), w.as("__w"))
    val norm = weighted.groupBy("doc_id")
      .agg(sqrt(sum(col("__w") * col("__w"))).as("__n"))
    val out = weighted.join(norm, Seq("doc_id"))
      .select(col("doc_id"), col("pos"),
        round(col("__w") / col("__n"), roundTo).as("w"))
    if (!materialize) out
    else {
      val o = out.localCheckpoint(true)
      d.unpersist()
      o
    }
  }

  /** [[hashedTfIdf]] assembled into dense ARRAY<FLOAT> vectors
    * (vec_id, embedding) — the drop-in shape every [[Similarity]]
    * operator takes. Keep `buckets` modest (the dense row is
    * buckets·4 bytes); the sparse exploded form is the storage/
    * comparison format. */
  def hashedVectors(docs: DataFrame, text: Column, id: Column,
      buckets: Int = 256, roundTo: Int = 6): DataFrame = {
    val sparse = hashedTfIdf(docs, text, id, buckets, roundTo,
      materialize = false)
    sparse.groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("pos"), col("w"))))
        .as("__m"))
      .select(col("doc_id").as("vec_id"),
        F.transform(sequence(lit(0L), lit(buckets - 1L)),
          i => coalesce(try_element_at(col("__m"), i), lit(0.0))
            .cast(FloatType))
          .as("embedding"))
  }

  /** Out-of-vocabulary rate per group against a stored vocabulary:
    * fraction of token OCCURRENCES not in the vocab — the tokenizer
    * health metric for a data mix (rising OOV on a new source means
    * the vocab no longer fits the data). One explode + one broadcast
    * join (the vocab is k rows by construction) + one aggregate. */
  def oovRate(spark: org.apache.spark.sql.SparkSession, vocabPath: String,
      docs: DataFrame, text: Column, group: Column): DataFrame = {
    val vocab = broadcast(
      spark.read.parquet(vocabPath).select(col("token")).withColumn("__in", lit(1)))
    docs.select(group.as("group"), explode(Dedup.tokens(text)).as("token"))
      .filter(col("token") =!= "")
      .join(vocab, Seq("token"), "left")
      .groupBy("group")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens"), 6))
  }
}
