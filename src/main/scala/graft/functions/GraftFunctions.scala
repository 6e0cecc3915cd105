package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.unsafe.types.UTF8String

/** Imperative kernels behind the [[KernelTable]] rows.
  *
  * These are the hot inner loops of the dedup/similarity operators
  * (SimHash voting, MinHash signatures, Jaccard, cosine). As
  * higher-order Column functions they evaluate interpreted — one
  * closure call and boxed allocation per element per lambda level;
  * fused into a single static method they run 10-50x faster AND stay
  * inside whole-stage codegen (each row's call becomes a direct
  * static call via `StaticInvoke`). Hashing is Spark's own XXH64 so
  * values remain stable across the engine.
  */
object Kernels {

  /** Per-thread reusable zlib state for [[deflateLen]] — Deflater
    * allocation is the expensive part; reset() between rows keeps one
    * native stream per executor thread for the whole scan. */
  private val deflaters = ThreadLocal.withInitial[java.util.zip.Deflater](() =>
    new java.util.zip.Deflater(6, true))

  /** Raw-DEFLATE (zlib level 6) compressed byte length of the UTF-8
    * text. The compression-ratio quality signal of the CCNet /
    * RefinedWeb lineage: highly compressible documents are template
    * boilerplate and repetition (the failure mode Gopher's repetition
    * ratios also target, but sensitive to ANY redundancy structure,
    * not just counted n-gram classes); incompressible ones are
    * random-ish junk. Byte lengths depend on the JVM's bundled zlib,
    * so this is an engine-specific signal (rows-only driver check,
    * structural ScalaTest spec) — like the minhash signatures. */
  def deflateLen(s: UTF8String): Long = {
    val bytes = s.getBytes
    val d = deflaters.get()
    d.reset()
    d.setInput(bytes)
    d.finish()
    val buf = new Array[Byte](8192)
    var total = 0L
    while (!d.finished()) total += d.deflate(buf)
    total
  }

  /** Unicode normalization (java.text.Normalizer): the NFC/NFKC
    * canonicalization pass a multilingual crawl needs BEFORE any
    * hashing/dedup — "café" arrives both precomposed (U+00E9) and
    * decomposed (e + U+0301), and every fingerprint in this engine
    * is byte-level, so unnormalized twins silently never dedup.
    * Spark has no built-in for this. */
  def unicodeNormalize(s: UTF8String, form: String): UTF8String = {
    val f = form match {
      case "NFC"  => java.text.Normalizer.Form.NFC
      case "NFD"  => java.text.Normalizer.Form.NFD
      case "NFKC" => java.text.Normalizer.Form.NFKC
      case "NFKD" => java.text.Normalizer.Form.NFKD
      case other  => throw new IllegalArgumentException(
        s"unicode_normalize: unknown form '$other' (NFC|NFD|NFKC|NFKD)")
    }
    val str = s.toString
    // fast path: most crawl text is already normalized; isNormalized
    // is a cheap scan, normalize allocates
    if (java.text.Normalizer.isNormalized(str, f)) s
    else UTF8String.fromString(java.text.Normalizer.normalize(str, f))
  }

  /** Aho-Corasick automaton: goto/fail/merged-output over exact
    * chars. The multi-pattern blocklist primitive — one O(len) scan
    * per document regardless of pattern count, where per-pattern
    * contains() is O(len × patterns) passes. Counts EVERY match end
    * position (overlapping included: "aa" hits "aaaa" 3 times). */
  final class AcAutomaton(patterns: Array[String]) {
    private val kids = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.LongMap.empty[Int])
    private val ends = scala.collection.mutable.ArrayBuffer[List[Int]](Nil)
    for (pi <- patterns.indices) {
      val p = patterns(pi)
      var s = 0
      var i = 0
      while (i < p.length) {
        val c = p.charAt(i).toLong
        val m = kids(s)
        s = m.getOrElse(c, {
          kids += scala.collection.mutable.LongMap.empty[Int]
          ends += Nil
          val id = kids.length - 1; m(c) = id; id
        })
        i += 1
      }
      if (p.nonEmpty) ends(s) = pi :: ends(s)
    }
    private val fail = new Array[Int](kids.length)
    private val outs = new Array[Array[Int]](kids.length)
    locally {
      val q = scala.collection.mutable.Queue.empty[Int]
      outs(0) = ends(0).toArray
      kids(0).foreach { case (_, v) => fail(v) = 0; q.enqueue(v) }
      while (q.nonEmpty) {
        val u = q.dequeue()
        // BFS order guarantees fail(u) was finished first, so output
        // lists merge down the dict-suffix chain without walking it
        // at match time
        outs(u) = (ends(u) ++ outs(fail(u))).toArray
        kids(u).foreach { case (c, v) =>
          var f = fail(u)
          while (f != 0 && !kids(f).contains(c)) f = fail(f)
          fail(v) = kids(f).getOrElse(c, 0) match {
            case `v` => 0
            case w   => w
          }
          q.enqueue(v)
        }
      }
    }
    /** Total match count; sets the bit of every matched pattern. */
    def run(str: String, matched: java.util.BitSet): Long = {
      var hits = 0L
      var s = 0
      var i = 0
      while (i < str.length) {
        val c = str.charAt(i).toLong
        while (s != 0 && !kids(s).contains(c)) s = fail(s)
        s = kids(s).getOrElse(c, 0)
        val o = outs(s)
        var k = 0
        while (k < o.length) { hits += 1; matched.set(o(k)); k += 1 }
        i += 1
      }
      hits
    }
  }

  /** One automaton per distinct pattern set per JVM — the build is
    * the broadcast-side cost, the scan side stays O(len). */
  private val acMemo =
    new scala.collection.concurrent.TrieMap[Seq[String], AcAutomaton]()

  /** text × patterns → (n_hits, n_matched): total Aho-Corasick match
    * occurrences and distinct patterns hit. */
  def blocklistStats(s: UTF8String, patterns: Array[String])
      : org.apache.spark.sql.catalyst.InternalRow = {
    val ac = acMemo.getOrElseUpdate(patterns.toSeq, new AcAutomaton(patterns))
    val bs = new java.util.BitSet(patterns.length)
    val hits = ac.run(s.toString, bs)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](hits, bs.cardinality().toLong))
  }

  /** 64-bit SimHash of whitespace-lowercased tokens: per-token hash
    * votes on each bit, sign of the vote sum becomes the bit.
    * Locale.ROOT lowercase — the default-locale form would produce
    * different fingerprints on a JVM with e.g. a Turkish locale
    * (dotless-i), breaking cross-cluster determinism. */
  def simhash64(s: UTF8String): Long = {
    val toks = s.toString.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
    val votes = new Array[Int](64)
    var i = 0
    while (i < toks.length) {
      val u = UTF8String.fromString(toks(i))
      val h = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) fp |= (1L << b); b += 1 }
    fp
  }

  /** 64-bit block-mean perceptual hash over a decoded media payload:
    * the bytes split into 64 equal blocks (boundary i·len/64), bit i =
    * block mean above the global mean — the classic blockhash/aHash
    * construction, so a LOCALIZED edit flips only the bits of the
    * blocks it touches and hamming distance tracks payload similarity.
    * With a real codec this runs over downsampled grayscale pixels
    * (same signature — the decode stage hands it the decoded bytes);
    * under the stubbed codec it runs over the raw payload, which keeps
    * every distributional property the blocking layer cares about.
    * Payloads shorter than 64 bytes leave their empty blocks at bit 0.
    * Integer accumulation only — bit-identical on every JVM. */
  def phash64(bytes: Array[Byte]): Long = {
    val len = bytes.length
    if (len == 0) return 0L
    var total = 0L
    var i = 0
    while (i < len) { total += (bytes(i) & 0xff); i += 1 }
    // global mean as a rational total/len — block comparison
    // cross-multiplies so no float division enters the fingerprint.
    // The products can reach ~255·len² (past 2^63 beyond ~1.4 GiB
    // payloads, and JVM arrays allow 2 GiB), so compare the full
    // 128-bit products: operands are non-negative, so multiplyHigh +
    // unsigned-low comparison is exact at any payload size.
    def gt128(a: Long, b: Long, c: Long, d: Long): Boolean = {
      val hi1 = Math.multiplyHigh(a, b); val hi2 = Math.multiplyHigh(c, d)
      if (hi1 != hi2) hi1 > hi2
      else java.lang.Long.compareUnsigned(a * b, c * d) > 0
    }
    var fp = 0L
    var b = 0
    while (b < 64) {
      val from = (b.toLong * len / 64).toInt
      val until = ((b + 1).toLong * len / 64).toInt
      if (until > from) {
        var s = 0L
        var j = from
        while (j < until) { s += (bytes(j) & 0xff); j += 1 }
        // s/(until-from) > total/len  <=>  s·len > total·(until-from)
        if (gt128(s, len, total, until - from)) fp |= (1L << b)
      }
      b += 1
    }
    fp
  }

  /** MinHash signature over string elements: the element bytes are
    * hashed ONCE (XXH64, seed 0) and the n family members derive from
    * that 64-bit base with one cheap hashLong re-mix each — n× fewer
    * byte scans than hashing the bytes per seed, and the standard
    * construction (one base hash + k derived permutations, as in
    * Spark's own MinHashLSH). Identical to [[minhashSigLong]] over
    * pre-hashed elements, so both element representations produce one
    * hash family. */
  def minhashSigStr(arr: ArrayData, n: Int): ArrayData = {
    val out = Array.fill(n)(Long.MaxValue)
    val sz = arr.numElements()
    var i = 0
    while (i < sz) {
      val u = arr.getUTF8String(i)
      val base = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 0L)
      var s = 0
      while (s < n) {
        val h = XXH64.hashLong(base, s.toLong)
        if (h < out(s)) out(s) = h
        s += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** MinHash signature over pre-hashed (long) elements. */
  def minhashSigLong(arr: ArrayData, n: Int): ArrayData = {
    val out = Array.fill(n)(Long.MaxValue)
    val sz = arr.numElements()
    var i = 0
    while (i < sz) {
      val v = arr.getLong(i)
      var s = 0
      while (s < n) {
        val h = XXH64.hashLong(v, s.toLong)
        if (h < out(s)) out(s) = h
        s += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct XXH64 hashes of the character n-grams of a
    * whitespace-collapsed, lowercased text (mirrors
    * lower(regexp_replace(text,"\s+"," ")) + substr grams + distinct;
    * texts shorter than n yield one whole-text gram). Locale.ROOT
    * lowercase and CODEPOINT gram windows — UTF-16 substring windows
    * would split surrogate pairs, diverging from the codepoint-based
    * substr() Column twin on non-BMP text (identical on BMP text, so
    * existing hashes are unchanged). */
  def charNgramHashes(s: UTF8String, n: Int): ArrayData = {
    val norm = s.toString.replaceAll("\\s+", " ").toLowerCase(java.util.Locale.ROOT)
    val cps = norm.codePoints().toArray
    val len = cps.length
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    if (len < n) {
      val u = UTF8String.fromString(norm)
      seen.add(XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L))
    } else {
      var i = 0
      while (i + n <= len) {
        val u = UTF8String.fromString(new String(cps, i, n))
        seen.add(XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L))
        i += 1
      }
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  /** Distinct XXH64 hashes of the word n-grams of a lowercased,
    * space-trimmed text — the fused form of
    * explode(array_distinct(shingles(text, n))) → xxhash64(gram): one
    * pass, no gram-string array materialization. Tokenization mirrors
    * the Column twin exactly (SQL trim strips ONLY spaces; split keeps
    * trailing empties like Spark's limit=-1; texts with fewer than n
    * tokens yield one whole-text gram) so fractions computed from
    * these hashes match a DuckDB oracle that joins gram strings.
    *
    * Locale caveat (same stance as the r4 ADVICE fix): this kernel
    * lowercases with Locale.ROOT, deterministic on every JVM. Spark's
    * own lower() falls back to default-locale String.toLowerCase for
    * non-ASCII input, so under an exotic default locale (tr_TR dotted
    * I) the COLUMN twin — not this kernel — is the side that shifts;
    * parity tests assume the default-locale JVMs Spark itself assumes. */
  def wordGramHashes(s: UTF8String, n: Int): ArrayData = {
    val str = s.toString.toLowerCase(java.util.Locale.ROOT)
    var b = 0
    var e = str.length
    while (b < e && str.charAt(b) == ' ') b += 1
    while (e > b && str.charAt(e - 1) == ' ') e -= 1
    val toks = str.substring(b, e).split("\\s+", -1)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val sb = new java.lang.StringBuilder()
    def hashGram(from: Int, until: Int): Unit = {
      sb.setLength(0)
      var i = from
      while (i < until) {
        if (i > from) sb.append(' ')
        sb.append(toks(i))
        i += 1
      }
      val u = UTF8String.fromString(sb.toString)
      seen.add(XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L))
    }
    if (toks.length < n) hashGram(0, toks.length)
    else {
      var i = 0
      while (i + n <= toks.length) { hashGram(i, i + n); i += 1 }
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  private val wsRe = java.util.regex.Pattern.compile("\\s+")

  /** Word k-shingles of a trim+lowercased text, duplicates KEPT — the
    * fused form of Dedup.shingles' Column tree, whose
    * transform(sequence, i => concat_ws(slice(split(...), i, k)))
    * re-evaluates the SPLIT once per output gram when interpreted
    * (higher-order functions are CodegenFallback): O(tokens²) per
    * document, measured as the single-task 3.4s stage of
    * dedup_snm_pairs at sf0.1. One split, one linear join pass here.
    * Semantics mirror the Column twin exactly: SQL trim strips ONLY
    * spaces, lowercase is UTF8String.toLowerCase (what Spark's lower()
    * runs), split keeps trailing empties (limit −1), and texts with
    * fewer than k tokens yield ONE whole-text gram. Null handling
    * (null text → [""]) stays in the Column wrapper. */
  def wordShingles(s: UTF8String, k: Int): ArrayData = {
    val t = s.trim().toLowerCase.toString
    val toks = wsRe.split(t, -1)
    if (toks.length < k) {
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i < toks.length) {
        if (i > 0) sb.append(' ')
        sb.append(toks(i))
        i += 1
      }
      return new GenericArrayData(
        Array[Any](UTF8String.fromString(sb.toString)))
    }
    val cnt = toks.length - k + 1
    val out = new Array[Any](cnt)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < cnt) {
      sb.setLength(0)
      var j = i
      while (j < i + k) {
        if (j > i) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct character n-grams of a whitespace-normalized, lowercased
    * text — the fused form of Dedup.charNgrams' Column tree, whose
    * transform lambda re-runs the regexp_replace + lower per GRAM
    * position (O(len²) interpreted). Semantics mirror the twin: norm =
    * lower(regexp_replace(text, "\\s+", " ")) (java.util.regex, no
    * flags — Spark's own engine), grams are code-POINT substrings at
    * positions 1..max(len−n+1, 1) (so sub-n texts yield their whole
    * self, like substr), distinct keeps first occurrence. Null text →
    * [null] stays in the Column wrapper. */
  def charNgramsDistinct(s: UTF8String, n: Int): ArrayData = {
    val norm = UTF8String.fromString(
      wsRe.matcher(s.toString).replaceAll(" ")).toLowerCase.toString
    val total = norm.codePointCount(0, norm.length)
    val cnt = math.max(total - (n - 1), 1)
    val seen = new java.util.LinkedHashSet[String]()
    var start = 0
    var end = norm.offsetByCodePoints(0, math.min(n, total))
    var i = 0
    while (i < cnt) {
      seen.add(norm.substring(start, end))
      if (i + 1 < cnt) {
        start = norm.offsetByCodePoints(start, 1)
        if (end < norm.length) end = norm.offsetByCodePoints(end, 1)
      }
      i += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }

  /** Word n-grams of a space-TRIMMED (not lowercased) text, each gram
    * lowercased after the join — the fused form of Spans.gramHits'
    * Column tree (same interpreted O(tokens²) trap as
    * [[wordShingles]]; tokenization differs: trim only, so case
    * survives into the split, and sub-n texts yield an EMPTY array).
    * Output order = gram start position, duplicates kept — posexplode
    * upstream derives the 1-based span position from the index. */
  def wordGramsLower(s: UTF8String, n: Int): ArrayData = {
    val toks = wsRe.split(s.trim().toString, -1)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val cnt = toks.length - n + 1
    val out = new Array[Any](cnt)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < cnt) {
      sb.setLength(0)
      var j = i
      while (j < i + n) {
        if (j > i) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString).toLowerCase
      i += 1
    }
    new GenericArrayData(out)
  }

  /** One greedy left-to-right merge-fold pass over a symbol sequence
    * under a batch of symbol-disjoint rules — the fused form of
    * [[graft.ops.Bpe.mergeOnce]]/[[graft.ops.Bpe.mergeBatch]]'s
    * interpreted `aggregate` lambda (CodegenFallback, re-allocating
    * the accumulator array per element). Exact fold semantics: if the
    * OUTPUT's last symbol equals some a_i and the current input symbol
    * equals b_i, replace the last with a_i+b_i (a fresh product never
    * re-merges, since products never equal a left operand for
    * non-empty b_i), else append. `rules` flattened [a0,b0,a1,b1,…]
    * (even length, no null: [[GraftFunctions.mergeFold]] checks it
    * once per call); null SYMBOLS never match and append unchanged,
    * like the lambda's null-propagating equality. */
  def mergeFold(syms: ArrayData, rules: Array[UTF8String]): ArrayData = {
    val n = syms.numElements()
    val out = new Array[Any](n)
    var m = 0
    var i = 0
    while (i < n) {
      val s = syms.getUTF8String(i)
      var merged: UTF8String = null
      if (m > 0 && s != null) {
        val last = out(m - 1).asInstanceOf[UTF8String]
        if (last != null) {
          var j = 0
          while (j < rules.length && merged == null) {
            if (rules(j).equals(last) && rules(j + 1).equals(s))
              merged = UTF8String.concat(rules(j), rules(j + 1))
            j += 2
          }
        }
      }
      if (merged != null) out(m - 1) = merged
      else { out(m) = s; m += 1 }
      i += 1
    }
    if (m == n) new GenericArrayData(out)
    else new GenericArrayData(
      java.util.Arrays.copyOf(out.asInstanceOf[Array[AnyRef]], m))
  }

  /** BPE token count under a learned merge list — the fused kernel
    * twin of [[graft.ops.Bpe.applySymbols]]'s per-word fold (which,
    * interpreted, nests one `aggregate` lambda PER MERGE per word —
    * measured 30s+ over sf0.1 at 12 merges; fused it is one linear
    * pass per merge). Per whitespace word of the trim+lowercased
    * text: start from code points (the trainer's `split(word, "")`
    * seed; a UTF-16 split would cut a non-BMP character in two), apply
    * merges in rank order, each a greedy left-to-right
    * non-overlapping pair merge (the reference
    * scan — identical output to the fold's last-symbol rule). Empty
    * words contribute nothing. `merges` flattened [a0,b0,a1,b1,…]
    * (even length, no null: [[GraftFunctions.bpeCount]] checks it
    * once per call). */
  def bpeTokenCount(s: UTF8String, merges: Array[String]): Long = {
    val words = s.trim.toLowerCase.toString.split("\\s+")
    var total = 0L
    var wi = 0
    while (wi < words.length) {
      val w = words(wi)
      if (w.nonEmpty) {
        var syms = w.codePoints.toArray.map(cp => new String(Character.toChars(cp)))
        var m = 0
        while (m < merges.length && syms.length > 1) {
          val a = merges(m); val b = merges(m + 1)
          val out = new Array[String](syms.length)
          var n = 0
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              out(n) = a + b; n += 1; i += 2
            } else { out(n) = syms(i); n += 1; i += 1 }
          }
          syms = java.util.Arrays.copyOf(out, n)
          m += 2
        }
        total += syms.length
      }
      wi += 1
    }
    total
  }

  /** Gopher-style repetition signals (Rae et al. 2021, "Scaling
    * Language Models: ... Gopher", table A1 — the repetition family of
    * quality filters) in ONE pass over the document:
    *
    *  - dup_line_frac: fraction of lines (split on \n, exact match)
    *    that are repeat occurrences of an earlier line.
    *  - dup_line_char_frac: fraction of line characters (codepoints,
    *    newlines excluded) inside those repeat occurrences.
    *  - top2_char_frac: the largest character mass any single word
    *    2-gram accounts for — count × gram length (incl. inner
    *    spaces) over the normalized text length — capped at 1.0
    *    (overlapping occurrences can exceed the text length; the
    *    "mass" form is deterministic under count ties where the
    *    argmax-by-count form is not).
    *  - dup5_char_frac: character mass of repeat occurrences of word
    *    5-grams — Σ (count−1) × gram length — over the normalized
    *    text length, capped at 1.0.
    *
    * Tokens/normalized text match [[wordGramHashes]] (lowercase ROOT,
    * SQL space-trim, split \s+ keeping trailing empties; normalized
    * length = tokens joined by single spaces). Zero denominators
    * (empty text, fewer than n tokens) yield 0.0, not null. */
  def repetitionStats(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val str = s.toString
    val lines = str.split("\n", -1)
    val nLines = lines.length.toLong
    var totLc = 0L; var dupEl = 0L; var dupLc = 0L
    val seenLines = new java.util.HashSet[String]()
    var li = 0
    while (li < lines.length) {
      val ln = lines(li)
      val chars = ln.codePointCount(0, ln.length).toLong
      totLc += chars
      if (!seenLines.add(ln)) { dupEl += 1; dupLc += chars }
      li += 1
    }

    val low = str.toLowerCase(java.util.Locale.ROOT)
    var b = 0
    var e = low.length
    while (b < e && low.charAt(b) == ' ') b += 1
    while (e > b && low.charAt(e - 1) == ' ') e -= 1
    val toks = low.substring(b, e).split("\\s+", -1)
    val tokLens = new Array[Int](toks.length)
    var ti = 0
    var normLen = (toks.length - 1).toLong // the joining spaces
    while (ti < toks.length) {
      tokLens(ti) = toks(ti).codePointCount(0, toks(ti).length)
      normLen += tokLens(ti)
      ti += 1
    }

    // gram char mass: top = max(count × len) | dup = Σ (count−1) × len
    def gramMass(n: Int, top: Boolean): Long = {
      if (toks.length < n) return 0L
      val counts = new java.util.HashMap[String, Array[Long]]()
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i + n <= toks.length) {
        sb.setLength(0)
        var j = i
        while (j < i + n) { if (j > i) sb.append(' '); sb.append(toks(j)); j += 1 }
        val g = sb.toString
        val prev = counts.get(g)
        if (prev == null) {
          var gl = (n - 1).toLong
          var j2 = i
          while (j2 < i + n) { gl += tokLens(j2); j2 += 1 }
          counts.put(g, Array(1L, gl))
        } else prev(0) += 1
        i += 1
      }
      var acc = 0L
      val it = counts.values().iterator()
      while (it.hasNext) {
        val v = it.next()
        if (top) { val m = v(0) * v(1); if (m > acc) acc = m }
        else if (v(0) > 1) acc += (v(0) - 1) * v(1)
      }
      acc
    }

    def frac(num: Long, den: Long): Double =
      if (den == 0L) 0.0 else num.toDouble / den
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](
        frac(dupEl, nLines),
        frac(dupLc, totLc),
        math.min(1.0, frac(gramMass(2, top = true), normLen)),
        math.min(1.0, frac(gramMass(5, top = false), normLen))))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD'03 — the MOSS scheme): rolling k-gram hashes over the
    * codepoints of a whitespace-normalized, lowercased text, then the
    * rightmost-minimum of each w-window is selected. Guarantees: at
    * least one selection per window (max fingerprint gap w), and any
    * shared substring of ≥ w + k − 1 codepoints yields a shared
    * fingerprint — the containment-detection property Jaccard-style
    * set similarity structurally lacks. Output: distinct selected
    * hashes, sorted (deterministic).
    *
    * The k-gram rolling hash is mixed through a splitmix64 finalizer
    * before window-min selection — raw polynomial hashes are not
    * uniform, which would bias which grams get sampled. O(text)
    * via the ascending-minima update (rescan only when the previous
    * minimum falls out of the window). */
  def winnowFingerprints(s: UTF8String, k: Int, w: Int): ArrayData = {
    val norm = s.toString.trim.replaceAll("\\s+", " ").toLowerCase(java.util.Locale.ROOT)
    val cps = norm.codePoints().toArray
    val len = cps.length
    def mix(x: Long): Long = {
      var z = x + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    if (len < k) return new GenericArrayData(Array(mix(
      { var h = 0L; var i = 0; while (i < len) { h = h * 1000003L + cps(i); i += 1 }; h })))
    val m = len - k + 1
    val hs = new Array[Long](m)
    var pow = 1L
    var j = 1
    while (j < k) { pow *= 1000003L; j += 1 }
    var h = 0L
    var i = 0
    while (i < k) { h = h * 1000003L + cps(i); i += 1 }
    hs(0) = mix(h)
    i = 1
    while (i < m) {
      h = (h - cps(i - 1) * pow) * 1000003L + cps(i + k - 1)
      hs(i) = mix(h)
      i += 1
    }
    val sel = new java.util.TreeSet[java.lang.Long]()
    if (m <= w) {
      var minPos = 0
      i = 1
      while (i < m) { if (hs(i) <= hs(minPos)) minPos = i; i += 1 }
      sel.add(hs(minPos))
    } else {
      var minPos = -1
      i = 0
      while (i + w <= m) {
        if (minPos < i) {
          minPos = i
          var p = i + 1
          while (p < i + w) { if (hs(p) <= hs(minPos)) minPos = p; p += 1 }
        } else if (hs(i + w - 1) <= hs(minPos)) minPos = i + w - 1
        sel.add(hs(minPos))
        i += 1
      }
    }
    val out = new Array[Long](sel.size())
    val it = sel.iterator()
    var q = 0
    while (it.hasNext) { out(q) = it.next(); q += 1 }
    new GenericArrayData(out)
  }

  /** UTS #39-style confusable skeleton, SINGLE-CODEPOINT subset: the
    * Cyrillic / Greek / fullwidth lookalikes that dominate real
    * homoglyph spam, each mapping 1:1 onto its ASCII skeleton — a
    * deliberate restriction so the fold is expressible as a plain
    * `translate()` in ANY engine (the full UTS #39 table has
    * multi-codepoint skeletons; those don't translate() and are out
    * of scope here). (source codepoint, ascii target). */
  val confusablePairs: Seq[(Int, Int)] = {
    val named = Seq(
      // Cyrillic lowercase lookalikes
      'а' -> 'a', 'е' -> 'e', 'о' -> 'o', 'р' -> 'p', 'с' -> 'c',
      'у' -> 'y', 'х' -> 'x', 'і' -> 'i', 'ѕ' -> 's', 'ј' -> 'j',
      'ԁ' -> 'd', 'һ' -> 'h', 'ԝ' -> 'w', 'ѵ' -> 'v',
      // Cyrillic uppercase
      'А' -> 'A', 'В' -> 'B', 'Е' -> 'E', 'К' -> 'K', 'М' -> 'M',
      'Н' -> 'H', 'О' -> 'O', 'Р' -> 'P', 'С' -> 'C', 'Т' -> 'T',
      'Х' -> 'X', 'Ѕ' -> 'S', 'І' -> 'I', 'Ј' -> 'J',
      // Greek lookalikes
      'ο' -> 'o', 'ν' -> 'v', 'Α' -> 'A', 'Β' -> 'B', 'Ε' -> 'E',
      'Ζ' -> 'Z', 'Η' -> 'H', 'Ι' -> 'I', 'Κ' -> 'K', 'Μ' -> 'M',
      'Ν' -> 'N', 'Ο' -> 'O', 'Ρ' -> 'P', 'Τ' -> 'T', 'Υ' -> 'Y',
      'Χ' -> 'X',
      // Latin-script lookalike letters
      'ɡ' -> 'g', 'ℓ' -> 'l')
      .map { case (a, b) => (a.toInt, b.toInt) }
    // fullwidth ASCII block: ！..～ → !..~
    val fullwidth = (0xFF01 to 0xFF5E).map(c => (c, c - 0xFEE0))
    named ++ fullwidth
  }

  private val confusableLut: java.util.HashMap[Integer, Integer] = {
    val m = new java.util.HashMap[Integer, Integer](confusablePairs.size * 2)
    confusablePairs.foreach { case (a, b) => m.put(a, b) }
    m
  }

  /** Fold every confusable codepoint onto its ASCII skeleton —
    * unmapped codepoints (incl. non-BMP, surrogate-safe) pass
    * through. Compose with lower() for case-blind homoglyph dedup. */
  def confusableFold(s: UTF8String): UTF8String = {
    val str = s.toString
    val sb = new java.lang.StringBuilder(str.length)
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      val m = confusableLut.get(cp)
      sb.appendCodePoint(if (m != null) m.intValue() else cp)
      i += Character.charCount(cp)
    }
    UTF8String.fromString(sb.toString)
  }

  /** y = M·(x − μ): k×d row-major projection of a CENTERED float
    * vector — the PCA / whitening map fused into one linear pass
    * (k·d multiply-adds). Rows of the wrong width OR with a null
    * slot yield an EMPTY array: malformed data, not a task error —
    * the same well-formedness verdict [[CovAccum]] applies on the
    * fit side, so a row the moments excluded can never feed a
    * projection/whiten identity (r13 advisor finding). */
  def projectCentered(xs: ArrayData, mean: Array[Double],
      mat: Array[Double], k: Int, d: Int): ArrayData = {
    if (xs.numElements() != d) return new GenericArrayData(Array.empty[Any])
    var n = 0
    while (n < d) {
      if (xs.isNullAt(n)) return new GenericArrayData(Array.empty[Any])
      n += 1
    }
    val c = new Array[Double](d)
    var i = 0
    while (i < d) { c(i) = xs.getFloat(i).toDouble - mean(i); i += 1 }
    val y = new Array[Double](k)
    var r = 0
    while (r < k) {
      val base = r * d
      var s = 0.0
      var j = 0
      while (j < d) { s += mat(base + j) * c(j); j += 1 }
      y(r) = s
      r += 1
    }
    new GenericArrayData(y)
  }

  /** Bucket index of (key, id) against ascending (cutKey, cutId) cut
    * points: the count of cuts <= (key, id), by binary search over
    * the lexicographic (binary-collated key, id) order — exactly the
    * order `ORDER BY key, id` sorts by. The bucket assignment behind
    * sample-balanced rank partitioning: because the id tiebreak makes
    * the order TOTAL, cut points can split even a run of identical
    * keys, so no key-distribution skew can funnel a bucket. */
  def rangeBucket(key: UTF8String, id: Long,
      cutKeys: Array[UTF8String], cutIds: Array[Long]): Int = {
    var lo = 0
    var hi = cutKeys.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      val c = cutKeys(mid).compareTo(key)
      if (c < 0 || (c == 0 && cutIds(mid) <= id)) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Polynomial rolling-hash fingerprint over the CODEPOINTS of a
    * whitespace-normalized, lowercased text: h = (h*31 + cp) mod
    * 1e9+7. Codepoint iteration + the prime modulus keep it exactly
    * reproducible in any engine (incl. the DuckDB oracle). */
  def rollingFingerprint(s: UTF8String): Long = {
    val norm = s.toString.trim.replaceAll("\\s+", " ").toLowerCase(java.util.Locale.ROOT)
    var h = 0L
    val it = norm.codePoints().iterator()
    while (it.hasNext) h = (h * 31 + it.next()) % 1000000007L
    h
  }

  /** Default English stopword set of [[graft.ops.TextOps]], as
    * UTF8Strings for exact comparison against Spark-lowercased tokens. */
  private val StopSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
      "that", "for", "on", "with", "as").foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  @inline private def isAsciiWs(cp: Int): Boolean =
    cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B || cp == '\f' || cp == '\r'

  private def isStopword(str: String, a: Int, b: Int): Boolean =
    StopSet.contains(UTF8String.fromString(str.substring(a, b)).toLowerCase)

  /** Fused text-statistics counters: ONE pass over the text instead of
    * six regex passes. Returns raw counts; ratio arithmetic + rounding
    * stay as Column expressions so results are bit-identical to the
    * unfused formulation (and the DuckDB oracle):
    *
    *  - n_tokens: elements of split(trim(text), "\s+") with Spark's
    *    limit=-1 semantics (trailing empty fields KEPT; trim strips
    *    ASCII space only) = (#whitespace runs in the trimmed region)+1.
    *  - n_bpeish: matches of [A-Za-z0-9]+|[^A-Za-z0-9\s] = ASCII
    *    alnum runs + every other non-whitespace codepoint.
    *  - n_alpha / len / n_nonws: [A-Za-z] / all / non-\s codepoints.
    *  - n_stop: tokens whose Spark-lowercase form is a default
    *    stopword (UTF8String.toLowerCase — the exact lower() kernel).
    *
    * \s is Java regex's ASCII class (no UNICODE_CHARACTER_CLASS), the
    * same set RE2/DuckDB uses. */
  def textStatsCounts(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val str = s.toString
    val n = str.length
    var t0 = 0
    while (t0 < n && str.charAt(t0) == ' ') t0 += 1
    var t1 = n
    while (t1 > t0 && str.charAt(t1 - 1) == ' ') t1 -= 1

    var len = 0L; var alpha = 0L; var nonws = 0L; var bpeish = 0L
    var inAlnumRun = false
    var i = 0
    while (i < n) {
      val cp = str.codePointAt(i)
      len += 1
      val ws = isAsciiWs(cp)
      if (!ws) nonws += 1
      val isAl = (cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z')
      if (isAl) alpha += 1
      if (isAl || (cp >= '0' && cp <= '9')) {
        if (!inAlnumRun) { bpeish += 1; inAlnumRun = true }
      } else {
        inAlnumRun = false
        if (!ws) bpeish += 1
      }
      i += Character.charCount(cp)
    }

    var tokens = 1L // #separator runs + 1; empty region → [""]
    var stop = 0L
    var runStart = -1
    var inWsRun = false
    var j = t0
    while (j < t1) {
      // ws chars are single UTF-16 units; surrogates are never ws
      if (isAsciiWs(str.charAt(j))) {
        if (runStart >= 0) {
          if (isStopword(str, runStart, j)) stop += 1
          runStart = -1
        }
        if (!inWsRun) { tokens += 1; inWsRun = true }
      } else {
        inWsRun = false
        if (runStart < 0) runStart = j
      }
      j += 1
    }
    if (runStart >= 0 && isStopword(str, runStart, t1)) stop += 1
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](tokens, bpeish, alpha, len, stop, nonws))
  }

  /** Marker lexicons for the language-ID heuristic — canonical data,
    * re-exported as [[graft.ops.TextOps.langMarkers]]. */
  val langMarkerData: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "that", "with"),
    "de" -> Seq("der", "und", "die", "das", "ist", "mit", "von"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "avec"),
    "es" -> Seq("el", "los", "las", "es", "con", "por", "una"),
    "zh" -> Seq("的", "是", "在", "了", "和"))

  private val LangMarkerSets: Array[java.util.HashSet[UTF8String]] =
    langMarkerData.map { case (_, ws) =>
      val s = new java.util.HashSet[UTF8String]()
      ws.foreach(w => s.add(UTF8String.fromString(w)))
      s
    }.toArray

  /** Per-language marker-token hit counts in ONE tokenization pass —
    * same token semantics as [[textStatsCounts]] (split(lower(trim),
    * "\s+") token equality; Spark's own UTF8String.toLowerCase). */
  def langMarkerCounts(s: UTF8String): ArrayData = {
    val str = s.toString
    val n = str.length
    var t0 = 0
    while (t0 < n && str.charAt(t0) == ' ') t0 += 1
    var t1 = n
    while (t1 > t0 && str.charAt(t1 - 1) == ' ') t1 -= 1
    val counts = new Array[Long](LangMarkerSets.length)
    var runStart = -1
    def close(end: Int): Unit = if (runStart >= 0) {
      val tok = UTF8String.fromString(str.substring(runStart, end)).toLowerCase
      var l = 0
      while (l < LangMarkerSets.length) {
        if (LangMarkerSets(l).contains(tok)) counts(l) += 1
        l += 1
      }
      runStart = -1
    }
    var j = t0
    while (j < t1) {
      if (isAsciiWs(str.charAt(j))) close(j)
      else if (runStart < 0) runStart = j
      j += 1
    }
    close(t1)
    new GenericArrayData(counts)
  }

  /** Int8 scalar quantization (SQ8) of a float vector: one pass for
    * the max-abs scale, one for the rounded bytes — O(d), unlike a
    * column-algebra formulation whose scale subexpression nested in
    * the transform lambda re-evaluates per element. Zero vectors map
    * to zero bytes. */
  def quantizeQ8(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    var m = 0.0
    var i = 0
    while (i < n) { val a = math.abs(arr.getFloat(i).toDouble); if (a > m) m = a; i += 1 }
    if (m == 0.0) m = 1.0
    val out = new Array[Byte](n)
    i = 0
    while (i < n) { out(i) = Math.round(arr.getFloat(i) * 127.0 / m).toByte; i += 1 }
    new GenericArrayData(out)
  }

  /** Cosine over int8-quantized (SQ8) byte arrays — the stored-int8
    * scan path: scores ARRAY<TINYINT> directly, no cast back to float.
    * Integer products/sums are exact in long (≤ 127²·d ≪ 2^53), so the
    * result is bit-identical to casting the bytes to float and running
    * [[cosineFloat]] — the recall/error bounds proven for the cast
    * formulation carry over unchanged. */
  def cosineQ8(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0L; var na = 0L; var nb = 0L
    var i = 0
    while (i < n) {
      val x = a.getByte(i).toLong; val y = b.getByte(i).toLong
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }

  /** Jaccard over long arrays with set (distinct) semantics — same
    * contract as size(array_intersect)/size(array_union).
    *
    * One flat open-addressing probe table (primitive longs + a state
    * byte per slot), not java.util.HashSet: the boxed formulation
    * allocated ~|A|+|B| Long objects PER PAIR, and a 45k-pair exact
    * verify sweep over ~2k-gram docs spent more time in GC than in
    * set arithmetic. Slot states: 0 empty, 1 in A, 2 in B only,
    * 3 in both (counted toward the intersection once). */
  def jaccardLong(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 && nb == 0) return 0.0
    var cap = 8
    while (cap < (na + nb) * 2) cap <<= 1 // load factor ≤ 0.5
    val keys = new Array[Long](cap)
    val state = new Array[Byte](cap)
    val mask = cap - 1
    var distinctA = 0
    var distinctB = 0
    var inter = 0
    var i = 0
    while (i < na) {
      val v = a.getLong(i)
      var h = v * -7046029254386353131L // mix: elements are xxh64 values, but don't rely on it
      h ^= (h >>> 32)
      var s = (h & mask).toInt
      while (state(s) != 0 && keys(s) != v) s = (s + 1) & mask
      if (state(s) == 0) { keys(s) = v; state(s) = 1; distinctA += 1 }
      i += 1
    }
    i = 0
    while (i < nb) {
      val v = b.getLong(i)
      var h = v * -7046029254386353131L
      h ^= (h >>> 32)
      var s = (h & mask).toInt
      while (state(s) != 0 && keys(s) != v) s = (s + 1) & mask
      if (state(s) == 0) { keys(s) = v; state(s) = 2; distinctB += 1 }
      else if (state(s) == 1) { state(s) = 3; inter += 1; distinctB += 1 }
      i += 1
    }
    val union = distinctA + distinctB - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** Containment |A∩B| / min(|A|,|B|) over long arrays with set
    * semantics — the subset/superset twin of [[jaccardLong]], same
    * flat open-addressing probe. */
  def containmentLong(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 || nb == 0) return 0.0
    var cap = 8
    while (cap < (na + nb) * 2) cap <<= 1
    val keys = new Array[Long](cap)
    val state = new Array[Byte](cap)
    val mask = cap - 1
    var distinctA = 0
    var distinctB = 0
    var inter = 0
    var i = 0
    while (i < na) {
      val v = a.getLong(i)
      var h = v * -7046029254386353131L
      h ^= (h >>> 32)
      var s = (h & mask).toInt
      while (state(s) != 0 && keys(s) != v) s = (s + 1) & mask
      if (state(s) == 0) { keys(s) = v; state(s) = 1; distinctA += 1 }
      i += 1
    }
    i = 0
    while (i < nb) {
      val v = b.getLong(i)
      var h = v * -7046029254386353131L
      h ^= (h >>> 32)
      var s = (h & mask).toInt
      while (state(s) != 0 && keys(s) != v) s = (s + 1) & mask
      if (state(s) == 0) { keys(s) = v; state(s) = 2; distinctB += 1 }
      else if (state(s) == 1) { state(s) = 3; inter += 1; distinctB += 1 }
      i += 1
    }
    val m = math.min(distinctA, distinctB)
    if (m == 0) 0.0 else inter.toDouble / m
  }

  /** Jaccard over string arrays with set semantics. */
  def jaccardStr(a: ArrayData, b: ArrayData): Double = {
    val setA = new java.util.HashSet[UTF8String](math.max(16, a.numElements() * 2))
    var i = 0
    while (i < a.numElements()) { setA.add(a.getUTF8String(i)); i += 1 }
    val seenB = new java.util.HashSet[UTF8String](math.max(16, b.numElements() * 2))
    var inter = 0
    i = 0
    while (i < b.numElements()) {
      val v = b.getUTF8String(i)
      if (seenB.add(v) && setA.contains(v)) inter += 1
      i += 1
    }
    val union = setA.size() + seenB.size() - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** Fraction of equal components between two equal-length long
    * arrays — the MinHash-signature Jaccard estimator. */
  def sigMatchFraction(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    if (n == 0) return 0.0
    var eq = 0
    var i = 0
    while (i < n) { if (a.getLong(i) == b.getLong(i)) eq += 1; i += 1 }
    eq.toDouble / n
  }

  /** Deterministic pseudo-random hyperplane component in [-1, 1] for
    * (table, plane, dim) — splitmix64. */
  def planeComponent(table: Int, plane: Int, dim: Int, dims: Int): Double = {
    var z = table.toLong * 1000003L + plane.toLong * dims + dim + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    z.toDouble / Long.MaxValue.toDouble
  }

  /** Sign-LSH buckets of a float vector for `tables` independent
    * hyperplane tables of `planes` planes each — one fused pass, plane
    * weights generated inline. Output: one bucket id per table. */
  def lshBuckets(vec: ArrayData, planes: Int, dims: Int, tables: Int): ArrayData = {
    val n = math.min(vec.numElements(), dims)
    val x = new Array[Double](n)
    var i = 0
    while (i < n) { x(i) = vec.getFloat(i).toDouble; i += 1 }
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var p = 0
      while (p < planes) {
        var dot = 0.0
        var d = 0
        while (d < n) { dot += x(d) * planeComponent(t, p, d, dims); d += 1 }
        if (dot >= 0) bucket |= (1L << p)
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  /** Cosine similarity of two equal-length float arrays, accumulated
    * in doubles in index order (bit-identical to the sequential
    * higher-order-function formulation it replaces). */
  def cosineFloat(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Cosine over double arrays. */
  def cosineDouble(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  // ---- main-content extraction kernel -------------------------------

  /** Block-boundary tags of the main-content extractor — the single
    * source of truth [[graft.ops.TextOps.BlockTagRe]] re-exports. */
  val BlockTagReStr: String =
    "(?i)</?(?:p|div|h[1-6]|li|ul|ol|dl|dt|dd|table|thead|tbody|tr|td|th|" +
    "section|article|main|blockquote|pre|figure|figcaption|form|fieldset|" +
    "br|hr)\\b[^>]*>"

  private val mcStructRes: Array[java.util.regex.Pattern] =
    Array("script", "style", "nav", "header", "footer", "aside")
      .map(t => java.util.regex.Pattern.compile(s"(?is)<$t\\b[^>]*>.*?</$t>"))
  private val mcCommentRe = java.util.regex.Pattern.compile("(?s)<!--.*?-->")
  private val mcBlockRe = java.util.regex.Pattern.compile(BlockTagReStr)
  private val mcTagRe = java.util.regex.Pattern.compile("<[^>]*>")
  private val mcAnchorRe =
    java.util.regex.Pattern.compile("(?is)<a\\b[^>]*>(.*?)</a>")
  private val mcWsRe = java.util.regex.Pattern.compile("\\s+")

  private def mcVisible(s: String): String = {
    var t = mcTagRe.matcher(s).replaceAll(" ")
    t = t.replace("&nbsp;", " ").replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&#39;", "'").replace("&amp;", "&")
    t = mcWsRe.matcher(t).replaceAll(" ")
    // trim SPACES only — the collapse already folded every \s run
    var a = 0; var z = t.length
    while (a < z && t.charAt(a) == ' ') a += 1
    while (z > a && t.charAt(z - 1) == ' ') z -= 1
    t.substring(a, z)
  }

  /** [[graft.ops.TextOps.extractMainContent]]'s fused kernel: the SAME
    * java.util.regex engine and patterns Spark's own regexp functions
    * compile, the same literal-replace entity chain, the same split
    * semantics (limit -1), lengths in code points like Spark's
    * `length` — one evaluation per document instead of a tree of
    * INTERPRETED higher-order array expressions (transform / filter /
    * aggregate don't whole-stage-codegen; the fused kernel measured
    * ~10× on the bench fixture). Output equality with the Column
    * formulation is pinned by spec; the DuckDB oracle is unchanged. */
  def mainContent(s: UTF8String, minChars: Int, maxLinkDensity: Double)
      : org.apache.spark.sql.catalyst.InternalRow = {
    var c = s.toString
    var ri = 0
    while (ri < mcStructRes.length) {
      c = mcStructRes(ri).matcher(c).replaceAll(" "); ri += 1
    }
    c = mcCommentRe.matcher(c).replaceAll(" ")
    val blocks = mcBlockRe.split(c, -1)
    val main = new java.lang.StringBuilder()
    var nBlocks = 0L; var nContent = 0L
    var contentChars = 0L; var totalChars = 0L
    var bi = 0
    while (bi < blocks.length) {
      val b = blocks(bi)
      val t = mcVisible(b)
      if (!t.isEmpty) {
        nBlocks += 1
        val tlen = t.codePointCount(0, t.length).toLong
        totalChars += tlen
        var ll = 0L
        val m = mcAnchorRe.matcher(b)
        while (m.find()) {
          val at = mcVisible(m.group(1))
          ll += at.codePointCount(0, at.length).toLong
        }
        if (tlen >= minChars && ll.toDouble <= maxLinkDensity * tlen) {
          nContent += 1
          contentChars += tlen
          if (main.length > 0) main.append('\n')
          main.append(t)
        }
      }
      bi += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString(main.toString), nBlocks, nContent,
        contentChars, totalChars - contentChars))
  }

  /** Canonical percent-encoding for RFC 9309 matching — the RFC
    * defines rule/path comparison on percent-encoded octets, so both
    * sides must normalize to ONE spelling before any comparison:
    * existing `%XX` escapes of unreserved characters (ALPHA / DIGIT /
    * `-._~`) decode, all other valid escapes re-emit with UPPERCASE
    * hex, a bare `%` not opening a valid escape becomes `%25`, and
    * raw bytes that must not appear raw in a path (space, controls,
    * `"<>\`{}|\^`, every non-ASCII UTF-8 byte) percent-encode.
    * `*` and `$` pass through raw: they are path characters here —
    * rule-side wildcard semantics are applied AFTER normalization by
    * [[robotsLike]]. */
  def percentNormalizeStr(s: String): String = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val sb = new java.lang.StringBuilder(bytes.length + 8)
    val hex = "0123456789ABCDEF"
    def hexVal(b: Int): Int =
      if (b >= '0' && b <= '9') b - '0'
      else if (b >= 'A' && b <= 'F') b - 'A' + 10
      else if (b >= 'a' && b <= 'f') b - 'a' + 10
      else -1
    def emit(v: Int): Unit =
      sb.append('%').append(hex.charAt(v >> 4)).append(hex.charAt(v & 0xf))
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      if (b == '%' && i + 2 < bytes.length &&
          hexVal(bytes(i + 1) & 0xff) >= 0 && hexVal(bytes(i + 2) & 0xff) >= 0) {
        val v = (hexVal(bytes(i + 1) & 0xff) << 4) | hexVal(bytes(i + 2) & 0xff)
        val unreserved = (v >= 'A' && v <= 'Z') || (v >= 'a' && v <= 'z') ||
          (v >= '0' && v <= '9') || v == '-' || v == '.' || v == '_' || v == '~'
        if (unreserved) sb.append(v.toChar) else emit(v)
        i += 3
      } else if (b == '%') { emit('%'); i += 1 }
      else if (b <= 0x20 || b >= 0x7f || b == '"' || b == '<' || b == '>' ||
          b == '`' || b == '{' || b == '}' || b == '|' || b == '\\' || b == '^') {
        emit(b); i += 1
      } else { sb.append(b.toChar); i += 1 }
    }
    sb.toString
  }

  def percentNormalize(s: UTF8String): UTF8String =
    UTF8String.fromString(percentNormalizeStr(s.toString))

  /** RFC 3986 §5.2.4 `remove_dot_segments`, verbatim buffer
    * algorithm — exact at any nesting depth (the Column formulation
    * [[graft.ops.Urls.removeDotSegments]] is the bounded-pass
    * restatable twin; UrlResolveSpec pins the two against each
    * other). */
  def removeDotSegmentsStr(in0: String): String = {
    var in = in0
    val out = new java.lang.StringBuilder(in.length)
    def dropLastSeg(): Unit = {
      val i = out.lastIndexOf("/")
      out.setLength(if (i < 0) 0 else i)
    }
    while (in.nonEmpty) {
      if (in.startsWith("../")) in = in.substring(3)
      else if (in.startsWith("./")) in = in.substring(2)
      else if (in.startsWith("/./")) in = "/" + in.substring(3)
      else if (in == "/.") in = "/"
      else if (in.startsWith("/../")) { in = "/" + in.substring(4); dropLastSeg() }
      else if (in == "/..") { in = "/"; dropLastSeg() }
      else if (in == "." || in == "..") in = ""
      else {
        val start = if (in.charAt(0) == '/') 1 else 0
        val idx = in.indexOf('/', start)
        if (idx < 0) { out.append(in); in = "" }
        else { out.append(in, 0, idx); in = in.substring(idx) }
      }
    }
    out.toString
  }

  /** RFC 3986 §5.2 relative-reference resolution against an absolute
    * http(s) base — the fused single-call twin of
    * [[graft.ops.Urls.resolveRef]] (same branch structure; exact
    * [[removeDotSegmentsStr]] instead of the bounded-pass regex).
    * Fragments are stripped from the ref (consistent with
    * [[graft.ops.Urls.canonicalize]] dropping them), so a fragment-
    * only ref resolves to the base itself. Keeping resolution in ONE
    * codegen'd call matters: the Column formulation inlined per
    * array element blows the generated method past Janino's limits
    * and drops the whole stage to interpreted mode. */
  def resolveRefStr(base: String, ref: String): String = {
    var r = ref.trim
    val h = r.indexOf('#')
    if (h >= 0) r = r.substring(0, h)
    // base parts (empty strings when the base is not absolute —
    // mirroring the Column twin's regexp_extract misses)
    var scheme = ""; var auth = ""; var bPath = ""; var bQuery = ""
    val ss = base.indexOf("://")
    val schemeOk = ss > 0 && {
      val c0 = base.charAt(0)
      ((c0 >= 'A' && c0 <= 'Z') || (c0 >= 'a' && c0 <= 'z')) &&
        (1 until ss).forall { i =>
          val c = base.charAt(i)
          (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
            (c >= '0' && c <= '9') || c == '+' || c == '.' || c == '-'
        }
    }
    if (schemeOk) {
      scheme = base.substring(0, ss).toLowerCase(java.util.Locale.ROOT)
      var i = ss + 3
      while (i < base.length && base.charAt(i) != '/' &&
        base.charAt(i) != '?' && base.charAt(i) != '#') i += 1
      auth = base.substring(ss + 3, i)
      val ps = i
      while (i < base.length && base.charAt(i) != '?' &&
        base.charAt(i) != '#') i += 1
      bPath = base.substring(ps, i)
      if (i < base.length && base.charAt(i) == '?') {
        val qs = i
        while (i < base.length && base.charAt(i) != '#') i += 1
        bQuery = base.substring(qs, i)
      }
    }
    if (bPath.isEmpty) bPath = "/"
    val origin = scheme + "://" + auth
    val qi = r.indexOf('?')
    val rPath = if (qi >= 0) r.substring(0, qi) else r
    val rQuery = if (qi >= 0) r.substring(qi) else ""
    val hasScheme = {
      val ci = r.indexOf(':')
      ci > 0 && {
        val c0 = r.charAt(0)
        ((c0 >= 'A' && c0 <= 'Z') || (c0 >= 'a' && c0 <= 'z')) &&
          (1 until ci).forall { i =>
            val c = r.charAt(i)
            (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
              (c >= '0' && c <= '9') || c == '+' || c == '.' || c == '-'
          }
      }
    }
    if (r.isEmpty) origin + bPath + bQuery
    else if (hasScheme) r
    else if (r.startsWith("//")) scheme + ":" + r
    else if (r.startsWith("/")) origin + removeDotSegmentsStr(rPath) + rQuery
    else if (r.startsWith("?")) origin + bPath + r
    else {
      val sl = bPath.lastIndexOf('/')
      val baseDir = bPath.substring(0, sl + 1)
      origin + removeDotSegmentsStr(baseDir + rPath) + rQuery
    }
  }

  def resolveRef(base: UTF8String, ref: UTF8String): UTF8String =
    UTF8String.fromString(resolveRefStr(base.toString, ref.toString))

  /** Public-suffix split under [[SuffixTables]] — the fused twin of
    * [[graft.ops.Urls.registeredDomainColumns]] (same rule order:
    * exceptions, wildcards, plain three-/two-label suffixes, else the
    * last two labels; a label window containing an empty label — e.g.
    * a host with consecutive dots — never matches, mirroring the
    * Column twin's `[^.]+` groups). One call per host in the
    * generated code: the Column tree's ~12 regexp nodes per use
    * multiply under CollapseProject until Janino rejects the stage. */
  def registeredDomainStr(host: String, t: SuffixTables): String = {
    val parts = host.split("\\.", -1)
    def lastK(k: Int): String =
      if (parts.length < k) ""
      else {
        var i = parts.length - k
        var ok = true
        while (i < parts.length) { if (parts(i).isEmpty) ok = false; i += 1 }
        if (!ok) "" else parts.slice(parts.length - k, parts.length)
          .mkString(".")
      }
    val one = lastK(1); val two = lastK(2)
    val three = lastK(3); val four = lastK(4)
    if (t.exc3.contains(three)) three
    else if (t.exc2.contains(two)) two
    else if (t.wild2.contains(two)) {
      if (four.nonEmpty) four else if (three.nonEmpty) three else host
    } else if (t.wild1.contains(one)) {
      if (three.nonEmpty) three else host
    } else if (t.threeLabel.contains(three) && four.nonEmpty) four
    else if (t.twoLabel.contains(two) && three.nonEmpty) three
    else if (two.isEmpty) host
    else two
  }

  def registeredDomain(host: UTF8String, t: SuffixTables): UTF8String =
    UTF8String.fromString(registeredDomainStr(host.toString, t))

  /** char → windows-1252 byte, the REVERSE of the decode table: every
    * byte's decoded char maps back to it (incl. the €-class 0x80–0x9F
    * punctuation and the five undefined bytes Java decodes to C1
    * controls, which also covers latin-1-decoded mojibake). */
  private lazy val cp1252Rev: java.util.HashMap[Character, java.lang.Byte] = {
    val m = new java.util.HashMap[Character, java.lang.Byte](512)
    val cs = java.nio.charset.Charset.forName("windows-1252")
    var b = 0
    while (b < 256) {
      val s = new String(Array(b.toByte), cs)
      // the five undefined bytes decode to U+FFFD — never map the
      // replacement char back to a byte
      if (s.length == 1 && s.charAt(0) != '�') m.put(s.charAt(0), b.toByte)
      b += 1
    }
    // C1 controls map to themselves: latin-1 misdecodes surface them
    // directly, and they fill cp1252's five undefined positions
    var c = 0x80
    while (c <= 0x9f) {
      m.putIfAbsent(c.toChar, c.toByte)
      c += 1
    }
    m
  }

  /** Mojibake repair: text whose chars ALL map back to windows-1252
    * bytes that form strict multibyte UTF-8 was almost certainly
    * UTF-8 misdecoded as cp1252/latin-1 ("Ã©" → "é", "â€™" → "'") —
    * re-encode and decode, up to two rounds (double mojibake is the
    * common crawl pathology: misdecoded text re-published and
    * re-misdecoded). Anything else — pure ASCII, legitimate accented
    * text (é alone is not a valid UTF-8 sequence), chars outside
    * cp1252's image — passes through unchanged. Known, accepted
    * false positive (same tradeoff the public ftfy heuristics make):
    * text that LEGITIMATELY spells a lead char Ã/Â/â followed only by
    * continuation-class cp1252 chars. Returns (text, rounds). */
  def mojibakeFixStr(s: String): (String, Int) = {
    var cur = s
    var rounds = 0
    var go = true
    while (go && rounds < 2) {
      go = false
      val n = cur.length
      val bytes = new Array[Byte](n)
      var i = 0
      var ok = n > 0
      var nonAscii = false
      while (ok && i < n) {
        val c = cur.charAt(i)
        if (c < 0x80) bytes(i) = c.toByte
        else {
          val b = cp1252Rev.get(c)
          if (b == null) ok = false else { bytes(i) = b; nonAscii = true }
        }
        i += 1
      }
      if (ok && nonAscii) {
        try {
          val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
            .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
            .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
          val out = dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
          if (out != cur) { cur = out; rounds += 1; go = true }
        } catch { case _: java.nio.charset.CharacterCodingException => }
      }
    }
    (cur, rounds)
  }

  def mojibakeFix(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val (fixed, rounds) = mojibakeFixStr(s.toString)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString(fixed), rounds))
  }

  /** Sentence-segmentation constants — single source of truth,
    * re-exported by [[graft.ops.TextOps]] (the [[BlockTagReStr]]
    * convention): multi-dot abbreviations (literal substrings),
    * word-bounded single abbreviations, and the break rule
    * (terminator run + optional closing quote/bracket + whitespace +
    * a sentence opener, capture-and-reinsert so the same pattern
    * runs under Java regex and the oracle's RE2). */
  val SentMultiDotAbbrevs: Seq[String] = Seq(
    "e.g.", "E.g.", "i.e.", "I.e.", "a.m.", "p.m.", "A.M.", "P.M.",
    "U.S.", "U.K.", "U.N.")
  val SentAbbrevs: Seq[String] = Seq(
    "Mr", "Mrs", "Ms", "Dr", "Prof", "Rev", "Hon", "St", "Jr", "Sr",
    "vs", "etc", "cf", "Inc", "Ltd", "Corp", "Co", "Fig", "Eq", "No",
    "Vol", "Ch", "pp", "Jan", "Feb", "Mar", "Apr", "Jun", "Jul", "Aug",
    "Sep", "Sept", "Oct", "Nov", "Dec")
  val SentBreakReStr: String =
    "([.!?]+[\"')\\]]*)[ \\t\\n\\r\\f]+([A-Z0-9\"'(\\[])"

  private lazy val sentBreakPat =
    java.util.regex.Pattern.compile(SentBreakReStr)
  private lazy val sentAbbrevPat = java.util.regex.Pattern.compile(
    "\\b(" + SentAbbrevs.mkString("|") + ")\\.")

  /** Fused twin of [[graft.ops.TextOps.sentenceSplitColumns]] — the
    * identical regex pipeline (Java regex both ways; the single
    * alternation over [[SentAbbrevs]] is equivalent to the Column
    * twin's per-abbreviation fold because a replacement never
    * creates a match for another abbreviation) as ONE call instead
    * of ~48 chained regex expression nodes. Trim is space-only,
    * mirroring Spark's `trim`. */
  def sentenceSplitStr(s0: String): Array[String] = {
    def spaceTrim(x: String): String = {
      var i = 0; var j = x.length
      while (i < j && x.charAt(i) == ' ') i += 1
      while (j > i && x.charAt(j - 1) == ' ') j -= 1
      x.substring(i, j)
    }
    var s = s0.replace("\u0001", "").replace("\u0002", "")
    var k = 0
    while (k < SentMultiDotAbbrevs.length) {
      val a = SentMultiDotAbbrevs(k)
      s = s.replace(a, a.replace(".", "\u0001"))
      k += 1
    }
    s = sentAbbrevPat.matcher(s).replaceAll("$1\u0001")
    s = sentBreakPat.matcher(s).replaceAll("$1\u0002$2")
    s.split("\u0002", -1).map(x => spaceTrim(x.replace('\u0001', '.')))
      .filter(_.nonEmpty)
  }

  def sentenceSplit(s: UTF8String)
      : org.apache.spark.sql.catalyst.util.ArrayData =
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      sentenceSplitStr(s.toString).map(UTF8String.fromString))

  private def gunzipOrNull(b: Array[Byte], from: Int): Array[Byte] =
    try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(b, from, b.length - from))
      val out = new java.io.ByteArrayOutputStream((b.length - from) * 4)
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } catch { case _: java.io.IOException => null }

  /** HTTP/1.x response parse — the stage between WARC record ingest
    * and charset decode (a WARC `response` payload IS an HTTP
    * message: status line, headers, CRLFCRLF, body). Returns
    * (status, content_type, charset_hint, content_encoding,
    * n_headers, body):
    *
    *   - status from the `HTTP/<v> <code> …` line; malformed
    *     payloads are DATA, not exceptions — status 0, empty fields,
    *     the whole payload as body;
    *   - header names case-insensitive, first occurrence wins for
    *     the extracted fields; bare-LF line breaks tolerated (the
    *     header block ends at the first blank line either way);
    *   - `content_type` is the media type lowercased without
    *     parameters; `charset_hint` is the Content-Type charset
    *     parameter, else a WHATWG-style ASCII prescan of the first
    *     1024 BODY bytes for a `<meta … charset=…>` label, else ''
    *     — exactly the hint column [[charsetDecodeHint]] consumes;
    *   - a `Content-Encoding: gzip` body is inflated (corrupt gzip
    *     keeps the raw bytes — the downstream decode quarantines). */
  def httpResponse(b: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    def row(status: Int, ct: String, hint: String, enc: String,
        nh: Int, body: Array[Byte]) =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](status, UTF8String.fromString(ct),
          UTF8String.fromString(hint), UTF8String.fromString(enc),
          nh, body))
    // header/body split: first blank line (CRLFCRLF or LFLF)
    var split = -1; var bodyAt = -1
    var i = 0
    while (split < 0 && i + 1 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n' && i + 3 < b.length &&
        b(i + 2) == '\r' && b(i + 3) == '\n') { split = i; bodyAt = i + 4 }
      else if (b(i) == '\n' && b(i + 1) == '\n') { split = i; bodyAt = i + 2 }
      i += 1
    }
    if (split < 0) { split = b.length; bodyAt = b.length }
    val head = new String(b, 0, split,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val lines = head.split("\r?\n")
    if (lines.isEmpty || !lines(0).startsWith("HTTP/"))
      return row(0, "", "", "", 0, b)
    val parts = lines(0).split(" +")
    // length <= 9 keeps toInt overflow-safe: a hostile status line
    // like "HTTP/1.1 99999999999 OK" is malformed DATA (status-0
    // whole-payload row), not a task-killing NumberFormatException
    val status =
      if (parts.length >= 2 && parts(1).nonEmpty && parts(1).length <= 9 &&
        parts(1).forall(_.isDigit)) parts(1).toInt
      else return row(0, "", "", "", 0, b)
    var ct = ""; var hint = ""; var enc = ""; var nh = 0
    var li = 1
    while (li < lines.length) {
      val line = lines(li)
      val c = line.indexOf(':')
      if (c > 0) {
        nh += 1
        val name = line.substring(0, c).trim.toLowerCase(java.util.Locale.ROOT)
        val value = line.substring(c + 1).trim
        if (name == "content-type" && ct.isEmpty) {
          val sc = value.indexOf(';')
          ct = (if (sc >= 0) value.substring(0, sc) else value)
            .trim.toLowerCase(java.util.Locale.ROOT)
          if (sc >= 0) {
            val m = java.util.regex.Pattern
              .compile("(?i)charset\\s*=\\s*\"?([A-Za-z0-9_.:\\-]+)")
              .matcher(value.substring(sc))
            if (m.find()) hint = m.group(1).toLowerCase(java.util.Locale.ROOT)
          }
        } else if (name == "content-encoding" && enc.isEmpty)
          enc = value.toLowerCase(java.util.Locale.ROOT)
      }
      li += 1
    }
    var body = java.util.Arrays.copyOfRange(b, bodyAt, b.length)
    if (enc == "gzip" && body.length >= 2 && (body(0) & 0xff) == 0x1f &&
      (body(1) & 0xff) == 0x8b) {
      val inflated = gunzipOrNull(body, 0)
      if (inflated != null) body = inflated
    }
    if (hint.isEmpty) {
      val peek = new String(body, 0, math.min(body.length, 1024),
        java.nio.charset.StandardCharsets.ISO_8859_1)
      val m = java.util.regex.Pattern
        .compile("(?i)<meta[^>]*charset\\s*=\\s*[\"']?([A-Za-z0-9_.:\\-]+)")
        .matcher(peek)
      if (m.find()) hint = m.group(1).toLowerCase(java.util.Locale.ROOT)
    }
    row(status, ct, hint, enc, nh, body)
  }

  /** Translate a percent-normalized robots rule value to a SQL LIKE
    * pattern (default `\` escape): RFC 9309 §2.2.3's `*` becomes `%`,
    * a trailing `$` anchors the match at the path end (no trailing
    * `%` emitted), LIKE's own metacharacters (`%`, `_`, `\`) escape,
    * and an un-anchored rule gets a trailing `%` — robots rules are
    * prefix matches. LIKE is anchored at the string start on both
    * engines (Spark, DuckDB), which is exactly robots' match-from-
    * path-start semantics. */
  def robotsLike(value: String): String = {
    val anchored = value.endsWith("$")
    val core = if (anchored) value.substring(0, value.length - 1) else value
    val sb = new java.lang.StringBuilder(core.length + 4)
    var i = 0
    while (i < core.length) {
      core.charAt(i) match {
        case '*' => sb.append('%')
        case c @ ('%' | '_' | '\\') => sb.append('\\').append(c)
        case c => sb.append(c)
      }
      i += 1
    }
    if (!anchored) sb.append('%')
    sb.toString
  }

  /** RFC 9309 robots.txt parse for ONE crawler: returns the rules of
    * the group(s) naming `agent` (case-insensitive exact product
    * token — the RFC's substring UA match is a documented
    * simplification), falling back to the `*` group(s) only when NO
    * group names the agent (a named group with zero rules means
    * "everything allowed", not "use the default group").
    * Consecutive User-agent lines share one group; rules before any
    * User-agent line are ignored; comments (#…) strip; empty-value
    * Disallow/Allow (the "allow all" idiom) drop; blank lines are
    * insignificant (RFC 9309 — groups end at the next User-agent
    * run, not at blank lines).
    *
    * Each rule emits as STRUCT(pattern, allow, rank, like):
    * `pattern` is the percent-normalized rule value
    * ([[percentNormalizeStr]]), `rank` its length — the RFC's
    * most-octets specificity, wildcards counted like any octet, the
    * same convention the reference open-source matchers use — and
    * `like` the SQL LIKE translation ([[robotsLike]]) that carries
    * `*`/`$` wildcard semantics into the match. Longest-match /
    * allow-wins-tie evaluation lives in
    * [[graft.ops.Urls.robotsVerdicts]]. */
  def robotsRules(txt: UTF8String, agent: String)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val agentLc = agent.toLowerCase(java.util.Locale.ROOT)
    val exact = scala.collection.mutable.ArrayBuffer[(String, Boolean)]()
    val star = scala.collection.mutable.ArrayBuffer[(String, Boolean)]()
    var sawExactGroup = false
    var inExact = false; var inStar = false
    var lastWasUa = false
    for (raw <- txt.toString.split("\r?\n", -1)) {
      val line = {
        val h = raw.indexOf('#')
        (if (h >= 0) raw.substring(0, h) else raw).trim
      }
      val ci = line.indexOf(':')
      if (ci > 0) {
        val key = line.substring(0, ci).trim.toLowerCase(java.util.Locale.ROOT)
        val value = line.substring(ci + 1).trim
        if (key == "user-agent") {
          if (!lastWasUa) { inExact = false; inStar = false }
          val ua = value.toLowerCase(java.util.Locale.ROOT)
          if (ua == agentLc) { inExact = true; sawExactGroup = true }
          if (ua == "*") inStar = true
          lastWasUa = true
        } else {
          lastWasUa = false
          if ((key == "disallow" || key == "allow") && value.nonEmpty) {
            if (inExact) exact += ((value, key == "allow"))
            if (inStar) star += ((value, key == "allow"))
          }
        }
      } else if (line.nonEmpty) lastWasUa = false
    }
    val rules = if (sawExactGroup) exact else star
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      rules.map { case (p, a) =>
        val norm = percentNormalizeStr(p)
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](UTF8String.fromString(norm), a, norm.length,
            UTF8String.fromString(robotsLike(norm))))
      }.toArray[Any])
  }

  /** Crawl-delay for ONE crawler from robots.txt — the de-facto
    * politeness extension (not in RFC 9309, but honored by several
    * major crawlers and ubiquitous in the wild). Group selection is
    * IDENTICAL to [[robotsRules]] (exact agent groups, star fallback
    * only when nothing names the agent); among the applicable
    * group(s) the LAST valid value wins (a later directive overrides
    * an earlier one, config-file style). Valid = parseable as a
    * finite non-negative decimal (fractional delays occur in real
    * corpora). Returns -1.0 when the applicable groups carry no
    * valid directive — a sentinel (delays are non-negative by
    * definition) that keeps the kernel codegen-simple; callers map
    * it to their politeness default ([[graft.ops.Urls.crawlDelay]]). */
  def robotsCrawlDelay(txt: UTF8String, agent: String): Double = {
    val agentLc = agent.toLowerCase(java.util.Locale.ROOT)
    var exactDelay = -1.0; var starDelay = -1.0
    var sawExactGroup = false
    var inExact = false; var inStar = false
    var lastWasUa = false
    for (raw <- txt.toString.split("\r?\n", -1)) {
      val line = {
        val h = raw.indexOf('#')
        (if (h >= 0) raw.substring(0, h) else raw).trim
      }
      val ci = line.indexOf(':')
      if (ci > 0) {
        val key = line.substring(0, ci).trim.toLowerCase(java.util.Locale.ROOT)
        val value = line.substring(ci + 1).trim
        if (key == "user-agent") {
          if (!lastWasUa) { inExact = false; inStar = false }
          val ua = value.toLowerCase(java.util.Locale.ROOT)
          if (ua == agentLc) { inExact = true; sawExactGroup = true }
          if (ua == "*") inStar = true
          lastWasUa = true
        } else {
          lastWasUa = false
          if (key == "crawl-delay") {
            val d = try java.lang.Double.parseDouble(value)
              catch { case _: NumberFormatException => -1.0 }
            if (d >= 0 && !d.isInfinite) {
              if (inExact) exactDelay = d
              if (inStar) starDelay = d
            }
          }
        }
      } else if (line.nonEmpty) lastWasUa = false
    }
    if (sawExactGroup) exactDelay else starDelay
  }

  /** All overlapping character n-grams of the input — the langid
    * feature kernel, replacing an interpreted higher-order
    * sequence/transform/substr chain with one codegen'd call. Case
    * and whitespace normalization stay OUTSIDE as Spark's own
    * lower(trim(...)) (their exact semantics — space-only trim,
    * collation-aware lowercase — must match the Column formulation
    * the oracle restates, so the kernel never reimplements them).
    * Grams are code-POINT substrings exactly like Spark's substr on
    * this input; texts shorter than n yield an empty array. Pinned
    * against the Column reference ([[graft.ops.Classify.charGramsCols]])
    * in ClassifySpec. */
  def charGrams(s: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val t = s.toString
    val total = t.codePointCount(0, t.length)
    val cnt = total - (n - 1)
    if (cnt <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val out = new Array[Any](cnt)
    // sliding code-point window: start/end char offsets advance one
    // code point per gram — O(len), no quadratic offsetByCodePoints
    var start = 0
    var end = t.offsetByCodePoints(0, math.min(n, total))
    var i = 0
    while (i < cnt) {
      out(i) = UTF8String.fromString(t.substring(start, end))
      start = t.offsetByCodePoints(start, 1)
      if (end < t.length) end = t.offsetByCodePoints(end, 1)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  private val sitemapEntryRe = java.util.regex.Pattern.compile(
    "(?is)<(url|sitemap)\\b[^>]*>(.*?)</\\1\\s*>")
  private val sitemapLocRe = java.util.regex.Pattern.compile(
    "(?is)<loc\\s*>(.*?)</loc\\s*>")
  private val sitemapLastmodRe = java.util.regex.Pattern.compile(
    "(?is)<lastmod\\s*>(.*?)</lastmod\\s*>")

  /** Decode the five XML predefined entities (the set sitemaps.org
    * requires escaping in loc values). Unknown entities pass through
    * verbatim — malformed markup is data. */
  private def xmlUnescape(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        if (s.startsWith("amp;", i + 1)) { sb.append('&'); i += 5 }
        else if (s.startsWith("lt;", i + 1)) { sb.append('<'); i += 4 }
        else if (s.startsWith("gt;", i + 1)) { sb.append('>'); i += 4 }
        else if (s.startsWith("quot;", i + 1)) { sb.append('"'); i += 6 }
        else if (s.startsWith("apos;", i + 1)) { sb.append('\''); i += 6 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Sitemap-document parse (the sitemaps.org protocol — the format
    * the robots.txt `Sitemap:` directive points at): accepts a raw,
    * optionally GZIPPED payload (`.xml.gz` sitemap bodies are the
    * norm on large sites) and returns its entries as
    * STRUCT(kind, loc, lastmod) — kind "url" for `<urlset>` children,
    * "sitemap" for `<sitemapindex>` children (the index level of the
    * two-tier frontier), lastmod NULL when the optional element is
    * absent. Tag matching is case-insensitive, loc values trim and
    * XML-unescape ([[xmlUnescape]]). Malformed bytes are DATA, not
    * exceptions: truncated gzip or tag soup yields an empty array. */
  def sitemapEntries(b: Array[Byte])
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val raw: Array[Byte] =
      if (b.length >= 2 && (b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b) {
        try {
          val in = new java.util.zip.GZIPInputStream(
            new java.io.ByteArrayInputStream(b))
          val out = new java.io.ByteArrayOutputStream(b.length * 4)
          val buf = new Array[Byte](8192)
          var n = in.read(buf)
          while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
          out.toByteArray
        } catch { case _: java.io.IOException => Array.emptyByteArray }
      } else b
    val s = new String(raw, java.nio.charset.StandardCharsets.UTF_8)
    val entries = scala.collection.mutable.ArrayBuffer[Any]()
    val m = sitemapEntryRe.matcher(s)
    while (m.find()) {
      val kind = m.group(1).toLowerCase(java.util.Locale.ROOT)
      val body = m.group(2)
      val lm = sitemapLocRe.matcher(body)
      if (lm.find()) {
        val loc = xmlUnescape(lm.group(1).trim)
        if (loc.nonEmpty) {
          val mm = sitemapLastmodRe.matcher(body)
          val lastmod =
            if (mm.find()) {
              val v = mm.group(1).trim
              if (v.isEmpty) null else UTF8String.fromString(v)
            } else null
          entries += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](UTF8String.fromString(kind),
              UTF8String.fromString(loc), lastmod))
        }
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(entries.toArray)
  }

  /** Strict RFC 3629 UTF-8 validation from `off`: rejects stray
    * continuations, overlong encodings, surrogate code points, and
    * anything above U+10FFFF. */
  private def validUtf8(b: Array[Byte], off: Int): Boolean = {
    var i = off
    while (i < b.length) {
      val c = b(i) & 0xff
      if (c < 0x80) i += 1
      else if (c < 0xc2) return false // continuation byte or overlong lead
      else if (c < 0xe0) {
        if (i + 1 >= b.length || (b(i + 1) & 0xc0) != 0x80) return false
        i += 2
      } else if (c < 0xf0) {
        if (i + 2 >= b.length) return false
        val c1 = b(i + 1) & 0xff
        if ((c1 & 0xc0) != 0x80 || (b(i + 2) & 0xc0) != 0x80) return false
        if (c == 0xe0 && c1 < 0xa0) return false // overlong
        if (c == 0xed && c1 >= 0xa0) return false // UTF-16 surrogate range
        i += 3
      } else if (c < 0xf5) {
        if (i + 3 >= b.length) return false
        val c1 = b(i + 1) & 0xff
        if ((c1 & 0xc0) != 0x80 || (b(i + 2) & 0xc0) != 0x80 ||
          (b(i + 3) & 0xc0) != 0x80) return false
        if (c == 0xf0 && c1 < 0x90) return false // overlong
        if (c == 0xf4 && c1 >= 0x90) return false // above U+10FFFF
        i += 4
      } else return false
    }
    true
  }

  private def charsetRow(b: Array[Byte], cs: String, text: UTF8String) =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString(cs), text, b.length.toLong))

  private def cp1252Decode(b: Array[Byte], off: Int) =
    UTF8String.fromString(new String(b, off, b.length - off,
      java.nio.charset.Charset.forName("windows-1252")))

  /** Every 4-byte unit from `off` is a scalar value: ≤ U+10FFFF and
    * not a UTF-16 surrogate — the check that disambiguates a true
    * UTF-32 body from UTF-16 text whose first char happens to be NUL
    * (both start FF FE 00 00). */
  private def validUtf32(b: Array[Byte], off: Int, le: Boolean): Boolean = {
    var i = off
    while (i + 3 < b.length) {
      val v =
        if (le) (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
          ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)
        else (b(i + 3) & 0xff) | ((b(i + 2) & 0xff) << 8) |
          ((b(i + 1) & 0xff) << 16) | ((b(i) & 0xff) << 24)
      if (v < 0 || v > 0x10ffff || (v >= 0xd800 && v <= 0xdfff)) return false
      i += 4
    }
    true
  }

  /** STRONG sniff evidence — the verdicts no declaration can
    * override: BOMs (UTF-32 checked before its UTF-16 prefix, per
    * the shadowing bug class; misaligned or non-scalar bodies fall
    * through to the UTF-16 reading) and a buffer that passes strict
    * RFC 3629 validation ("ascii" when pure 7-bit — legacy bytes
    * essentially never form valid multibyte UTF-8 by accident, so
    * validation beats any header). Returns null when the evidence is
    * inconclusive. */
  private def charsetSniffStrong(b: Array[Byte])
      : org.apache.spark.sql.catalyst.expressions.GenericInternalRow = {
    def utfN(off: Int, cs: String) = UTF8String.fromString(
      new String(b, off, b.length - off, java.nio.charset.Charset.forName(cs)))
    def at(i: Int, v: Int) = b.length > i && (b(i) & 0xff) == v
    if (at(0, 0xef) && at(1, 0xbb) && at(2, 0xbf)) {
      if (validUtf8(b, 3))
        charsetRow(b, "utf-8-bom",
          UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, 3, b.length)))
      else charsetRow(b, "windows-1252", cp1252Decode(b, 3))
    } else if (at(0, 0xff) && at(1, 0xfe) && at(2, 0x00) && at(3, 0x00) &&
        (b.length - 4) % 4 == 0 && validUtf32(b, 4, le = true)) {
      charsetRow(b, "utf-32le", utfN(4, "UTF-32LE"))
    } else if (at(0, 0x00) && at(1, 0x00) && at(2, 0xfe) && at(3, 0xff) &&
        (b.length - 4) % 4 == 0 && validUtf32(b, 4, le = false)) {
      charsetRow(b, "utf-32be", utfN(4, "UTF-32BE"))
    } else if (at(0, 0xff) && at(1, 0xfe)) {
      if ((b.length - 2) % 2 == 0) charsetRow(b, "utf-16le", utfN(2, "UTF-16LE"))
      else charsetRow(b, "windows-1252", cp1252Decode(b, 0))
    } else if (at(0, 0xfe) && at(1, 0xff)) {
      if ((b.length - 2) % 2 == 0) charsetRow(b, "utf-16be", utfN(2, "UTF-16BE"))
      else charsetRow(b, "windows-1252", cp1252Decode(b, 0))
    } else if (validUtf8(b, 0)) {
      var ascii = true
      var esc = false
      var i = 0
      while (i < b.length && ascii) {
        if ((b(i) & 0x80) != 0) ascii = false
        else if ((b(i) & 0xff) == 0x1b && i + 1 < b.length &&
            (b(i + 1) == '$' || b(i + 1) == '(')) esc = true
        i += 1
      }
      // ISO-2022-JP hides inside "pure ASCII": its ESC $ / ESC ( shift
      // sequences essentially never occur in real ASCII text, so a
      // 7-bit buffer carrying them decodes as JIS when the strict
      // decoder accepts it (else it falls back to the ascii verdict)
      if (ascii && esc) {
        try {
          val dec = java.nio.charset.Charset.forName("ISO-2022-JP").newDecoder()
            .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
            .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
          return charsetRow(b, "iso-2022-jp", UTF8String.fromString(
            dec.decode(java.nio.ByteBuffer.wrap(b)).toString))
        } catch { case _: java.nio.charset.CharacterCodingException => }
      }
      charsetRow(b, if (ascii) "ascii" else "utf-8", UTF8String.fromBytes(b))
    } else null
  }

  /** Structural validity score of a non-UTF-8 buffer under one CJK
    * encoding family: the count of multibyte sequences when EVERY
    * byte conforms to the family's lead/trail grammar, -1 on any
    * violation. Shift_JIS's single-byte half-width katakana
    * (0xA1–0xDF) are legal but score ZERO — otherwise every EUC/GBK
    * buffer reads as valid katakana soup and Shift_JIS shadows the
    * whole family. enc: 0=Shift_JIS 1=EUC-JP 2=EUC-KR 3=GBK 4=Big5. */
  private def cjkScore(b: Array[Byte], enc: Int): Int = {
    var i = 0; var score = 0
    while (i < b.length) {
      val c = b(i) & 0xff
      if (c < 0x80) i += 1
      else {
        def trail(j: Int, lo: Int, hi: Int, skip7f: Boolean = false): Boolean =
          j < b.length && {
            val t = b(j) & 0xff
            t >= lo && t <= hi && !(skip7f && t == 0x7f)
          }
        enc match {
          case 0 => // Shift_JIS
            if (c >= 0xa1 && c <= 0xdf) i += 1 // half-width katakana: score 0
            else if (((c >= 0x81 && c <= 0x9f) || (c >= 0xe0 && c <= 0xef)) &&
                trail(i + 1, 0x40, 0xfc, skip7f = true)) { score += 1; i += 2 }
            else return -1
          case 1 => // EUC-JP (incl. SS2 half-width katakana, SS3 plane 2)
            if (c == 0x8e && trail(i + 1, 0xa1, 0xdf)) { score += 1; i += 2 }
            else if (c == 0x8f && trail(i + 1, 0xa1, 0xfe) &&
                trail(i + 2, 0xa1, 0xfe)) { score += 1; i += 3 }
            else if (c >= 0xa1 && c <= 0xfe && trail(i + 1, 0xa1, 0xfe)) {
              score += 1; i += 2
            } else return -1
          case 2 => // EUC-KR (KS X 1001 94x94 grid)
            if (c >= 0xa1 && c <= 0xfe && trail(i + 1, 0xa1, 0xfe)) {
              score += 1; i += 2
            } else return -1
          case 3 => // GBK
            if (c >= 0x81 && c <= 0xfe && trail(i + 1, 0x40, 0xfe, skip7f = true)) {
              score += 1; i += 2
            } else return -1
          case _ => // Big5
            if (c >= 0x81 && c <= 0xfe && i + 1 < b.length && {
                val t = b(i + 1) & 0xff
                (t >= 0x40 && t <= 0x7e) || (t >= 0xa1 && t <= 0xfe)
              }) { score += 1; i += 2 }
            else return -1
        }
      }
    }
    score
  }

  private val cjkNames = Array(
    ("shift_jis", "Shift_JIS"), ("euc-jp", "EUC-JP"), ("euc-kr", "EUC-KR"),
    ("gbk", "GBK"), ("big5", "Big5"))

  /** Minimum multibyte-pair count before structural CJK detection is
    * trusted: a near-ASCII windows-1252 buffer can form a couple of
    * accidental valid pairs (curly quotes + a letter read as a
    * Shift_JIS pair), and at that evidence level the web's cp1252
    * default is the safer call. Real CJK text clears this in its
    * first sentence. */
  private val CjkMinScore = 4

  /** WEAK-evidence fallback for buffers that failed strict UTF-8:
    * structural CJK detection (best [[cjkScore]] when at least
    * [[CjkMinScore]] pairs of evidence; ties break by family
    * precedence Shift_JIS > EUC-JP > EUC-KR > GBK > Big5 — the
    * EUC/GBK/Big5 byte grammars overlap heavily, so WITHIN that
    * family structure alone cannot discriminate and the declared-
    * charset hint is the contract), else windows-1252, the de-facto
    * web fallback. */
  private def charsetFallback(b: Array[Byte])
      : org.apache.spark.sql.catalyst.expressions.GenericInternalRow = {
    var best = -1; var bestScore = CjkMinScore - 1
    var e = 0
    while (e < 5) {
      val s = cjkScore(b, e)
      if (s > bestScore) { best = e; bestScore = s }
      e += 1
    }
    if (best >= 0) {
      val (label, jvm) = cjkNames(best)
      charsetRow(b, label, UTF8String.fromString(
        new String(b, java.nio.charset.Charset.forName(jvm))))
    } else charsetRow(b, "windows-1252", cp1252Decode(b, 0))
  }

  /** WHATWG-style label normalization for declared charsets (the
    * subset a crawl pipeline meets: Content-Type / meta labels for
    * UTF-8, the latin-1 family — which the web platform defines AS
    * windows-1252 — and the five major CJK families). Unknown labels
    * return null: an unrecognized declaration is ignored, never
    * trusted. */
  private val declaredCharsetLabels: java.util.HashMap[String, String] = {
    val m = new java.util.HashMap[String, String]()
    def put(canon: String, aliases: String*): Unit =
      (canon +: aliases).foreach(a => m.put(a, canon))
    put("utf-8", "utf8", "unicode-1-1-utf-8")
    put("windows-1252", "cp1252", "x-cp1252", "ascii", "us-ascii",
      "latin-1", "latin1", "l1", "iso-8859-1", "iso8859-1", "iso_8859-1")
    put("shift_jis", "shift-jis", "sjis", "x-sjis", "ms_kanji",
      "csshiftjis", "windows-31j")
    put("euc-jp", "x-euc-jp", "cseucpkdfmtjapanese")
    put("euc-kr", "ks_c_5601-1987", "korean", "cseuckr", "windows-949")
    put("gbk", "gb2312", "gb_2312", "gb_2312-80", "chinese", "csgb2312",
      "x-gbk")
    put("big5", "big5-hkscs", "cn-big5", "csbig5", "x-x-big5")
    m
  }

  private val charsetJvmNames = Map(
    "utf-8" -> "UTF-8", "windows-1252" -> "windows-1252",
    "shift_jis" -> "Shift_JIS", "euc-jp" -> "EUC-JP", "euc-kr" -> "EUC-KR",
    "gbk" -> "GBK", "big5" -> "Big5")

  /** Charset sniff + decode of a raw crawl payload — the encoding
    * stage every WARC pipeline runs before any text operator (a
    * crawl's declared charsets are unreliable; pipelines sniff).
    * Deterministic contract, strongest evidence first: BOMs win
    * (UTF-32 before UTF-16 — the 4-byte LE BOM starts with the
    * 2-byte one; misaligned or invalid bodies fall through to the
    * byte fallback rather than desyncing), strict RFC 3629
    * validation calls the buffer "utf-8" (pure 7-bit reported as
    * "ascii"), structural CJK detection covers the Shift_JIS/EUC/
    * GBK/Big5 families ([[cjkScore]]), and windows-1252 — the
    * de-facto web fallback superset of latin-1 — closes. Returns
    * (charset, text, n_bytes); n_bytes is the RAW payload length
    * including any BOM. Callers holding a declared charset use
    * [[charsetDecodeHint]]. */
  def charsetDecode(b: Array[Byte])
      : org.apache.spark.sql.catalyst.InternalRow = {
    val strong = charsetSniffStrong(b)
    if (strong != null) strong else charsetFallback(b)
  }

  /** [[charsetDecode]] with a declared-charset hint (HTTP
    * Content-Type / HTML meta label; empty = none): strong sniff
    * evidence (BOMs, strict UTF-8) still wins — headers lie, byte
    * structure doesn't — then a recognized hint
    * ([[declaredCharsetLabels]]) whose STRICT decode succeeds is
    * trusted (windows-1252 decodes leniently: it is also the final
    * fallback), and a lying/unknown/undecodable hint falls through
    * to the structural sniff. This is the CJK contract: EUC-KR, GBK
    * and Big5 byte grammars overlap too much for structure alone, so
    * the declared label — ubiquitous on CJK sites — picks the family
    * and strict validation keeps it honest. */
  def charsetDecodeHint(b: Array[Byte], hint: UTF8String)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val strong = charsetSniffStrong(b)
    if (strong != null) return strong
    val label0 = hint.toString.trim.toLowerCase(java.util.Locale.ROOT)
      .stripPrefix("\"").stripSuffix("\"")
    val canon = declaredCharsetLabels.get(label0)
    if (canon != null) {
      val cs = java.nio.charset.Charset.forName(charsetJvmNames(canon))
      if (canon == "windows-1252")
        return charsetRow(b, canon, cp1252Decode(b, 0))
      try {
        val dec = cs.newDecoder()
          .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
          .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
        return charsetRow(b, canon, UTF8String.fromString(
          dec.decode(java.nio.ByteBuffer.wrap(b)).toString))
      } catch { case _: java.nio.charset.CharacterCodingException => }
    }
    charsetFallback(b)
  }
}

/** Hashed suffix tables for [[Kernels.registeredDomainStr]] — built
  * once per Column call from the caller's suffix seqs (the public-suffix
  * snapshot by default) and shipped as one codegen reference object,
  * the O(1)-lookup equivalent of the Column formulation's four InSet
  * literals. Equal seqs make equal tables, so two calls on the same
  * host are semantically equal. */
final case class SuffixTables(twoLabelSeq: Seq[String], threeLabelSeq: Seq[String],
    wildcardBases: Seq[String], exceptions: Seq[String]) {
  private def hs(xs: Seq[String]): java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](math.max(xs.size * 2, 8))
    xs.foreach(s.add); s
  }
  val twoLabel: java.util.HashSet[String] = hs(twoLabelSeq)
  val threeLabel: java.util.HashSet[String] = hs(threeLabelSeq)
  val wild1: java.util.HashSet[String] = hs(wildcardBases.filterNot(_.contains('.')))
  val wild2: java.util.HashSet[String] = hs(wildcardBases.filter(_.count(_ == '.') == 1))
  val exc2: java.util.HashSet[String] = hs(exceptions.filter(_.count(_ == '.') == 1))
  val exc3: java.util.HashSet[String] = hs(exceptions.filter(_.count(_ == '.') == 2))
}


/** Column-level entry points for the kernels. Each is one call into
  * its [[KernelTable]] row, which also drives the SQL registry and
  * the kernel spec. Adding a kernel takes one [[Kernels]] method and
  * one [[KernelTable]] row (plus a facade line here to expose it). */
object GraftFunctions {
  private val K = KernelTable
  private def e(c: Column): Expression = GraftColumnBridge.expression(c)

  /** A BPE rule list flattened [a0,b0,a1,b1,…] — checked once here,
    * so the per-row loops can index pairs without bounds or null
    * checks. */
  private def ruleList(fn: String, rules: Array[String]): Array[String] = {
    if (rules.length % 2 != 0) throw new IllegalArgumentException(
      s"$fn: rule list must hold (a, b) pairs, got odd length ${rules.length}")
    val i = rules.indexOf(null)
    if (i >= 0) throw new IllegalArgumentException(
      s"$fn: rule list holds a null symbol at index $i")
    rules
  }

  def simhash64(text: Column): Column = K.simhash64(text)
  def deflateLen(text: Column): Column = K.deflateLen(text)
  def blocklistStats(text: Column, patterns: Array[String]): Column =
    K.blocklistStats(text, patterns)
  def unicodeNormalize(text: Column, form: String = "NFC"): Column =
    K.unicodeNormalize(text, form)
  def phash64(media: Column): Column = K.phash64(media)
  def charsetDecode(payload: Column): Column = K.charsetDecode(payload)
  def charsetDecodeHint(payload: Column, hint: Column): Column =
    K.charsetDecodeHint(payload, hint)
  def mojibakeFix(text: Column): Column = K.mojibakeFix(text)
  def httpResponse(payload: Column): Column = K.httpResponse(payload)
  def sentenceSplit(text: Column): Column = K.sentenceSplit(text)
  def mainContent(html: Column, minChars: Int = 25,
      maxLinkDensity: Double = 0.33): Column =
    K.mainContent(html, minChars, maxLinkDensity)
  def robotsRules(robotsTxt: Column, agent: String): Column =
    K.robotsRules(robotsTxt, agent)
  def robotsCrawlDelay(robotsTxt: Column, agent: String): Column =
    K.robotsCrawlDelay(robotsTxt, agent)
  def percentNormalize(path: Column): Column = K.percentNormalize(path)
  def resolveRef(base: Column, ref: Column): Column = K.resolveRef(base, ref)
  def registeredDomain(host: Column, twoLabel: Seq[String],
      threeLabel: Seq[String], wildcardBases: Seq[String],
      exceptions: Seq[String]): Column =
    K.registeredDomain(host,
      new SuffixTables(twoLabel, threeLabel, wildcardBases, exceptions))
  def sitemapEntries(body: Column): Column = K.sitemapEntries(body)
  def charNgramHashes(text: Column, n: Int): Column = K.charNgramHashes(text, n)
  def charGrams(text: Column, n: Int): Column = K.charGrams(text, n)
  def wordShingles(text: Column, k: Int): Column = K.wordShingles(text, k)
  def charNgramsDistinct(text: Column, n: Int): Column =
    K.charNgramsDistinct(text, n)
  def wordGramsLower(text: Column, n: Int): Column = K.wordGramsLower(text, n)
  def wordGramHashes(text: Column, n: Int): Column = K.wordGramHashes(text, n)
  def repetitionStats(text: Column): Column = K.repetitionStats(text)
  def minhashSig(elems: Column, numHashes: Int): Column =
    K.minhashSig(elems, numHashes)
  def jaccardSim(a: Column, b: Column): Column = K.jaccardSim(a, b)
  def containmentSim(a: Column, b: Column): Column = K.containmentSim(a, b)
  def sigMatch(a: Column, b: Column): Column = K.sigMatch(a, b)
  def lshBuckets(vec: Column, planes: Int, dims: Int, tables: Int): Column =
    K.lshBuckets(vec, planes, dims, tables)
  def rollingHash(text: Column): Column = K.rollingHash(text)
  def winnowFp(text: Column, k: Int, w: Int): Column = K.winnowFp(text, k, w)
  def quantizeQ8(vec: Column): Column = K.quantizeQ8(vec)
  def cosineSim(a: Column, b: Column): Column = K.cosineSim(a, b)
  def cosineSimQ8(a: Column, b: Column): Column = K.cosineSimQ8(a, b)
  def textStatsCounts(text: Column): Column = K.textStatsCounts(text)
  def bpeCount(text: Column, merges: Array[String]): Column =
    K.bpeCount(text, ruleList("bpe_count", merges))
  def mergeFold(syms: Column, rules: Array[String]): Column =
    K.mergeFold(syms, ruleList("merge_fold", rules).map(UTF8String.fromString))
  def rangeBucket(key: Column, id: Column, cutKeys: Array[String],
      cutIds: Array[Long]): Column =
    K.rangeBucket(key, id, cutKeys.map(UTF8String.fromString), cutIds)
  def projectCentered(vec: Column, mean: Array[Double],
      mat: Array[Double], k: Int, d: Int): Column = {
    require(mean.length == d && mat.length == k * d,
      s"project_centered: mean/mat shapes must be d=$d / k*d=${k * d}")
    K.projectCentered(vec, mean, mat, k, d)
  }
  def confusableFold(text: Column): Column = K.confusableFold(text)
  def langMarkerCounts(text: Column): Column = K.langMarkerCounts(text)
  /** Aggregate: k best (score desc, id asc) rows with an O(k) buffer. */
  def topK(score: Column, id: Column, k: Int): Column =
    GraftColumnBridge.column(TopKByScore(e(score), e(id), k).toAggregateExpression())
}
