package graft.ops

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding vocabulary training over the corpus (Sennrich,
  * Haddow & Birch 2016 — the public BPE recipe behind most LLM
  * tokenizers): start from characters, repeatedly merge the most
  * frequent adjacent symbol pair.
  *
  * Work split. The only corpus-scale work is ONE distributed pass,
  * [[wordCounts]] + [[seedSymbols]]: corpus text reduces to the
  * distinct-word table (at 100 TB millions of rows, not billions of
  * tokens), each word split into Spark's code-point symbols. One
  * collect brings that table to the driver, and every merge round
  * then runs in memory ([[trainBatched]]), the shape of Sennrich's
  * `learn_bpe.py`, the HF tokenizers and SentencePiece trainers, and
  * Spark MLlib's own vocabulary-scale collects (`Word2Vec.learnVocab`,
  * `CountVectorizer`). A merge round is pure driver work, so a k-merge
  * fit runs a fixed number of Spark jobs instead of three per merge.
  *
  * Driver-memory contract: the driver holds the distinct-word table —
  * distinct words × their symbols — plus one count per distinct
  * adjacent pair and an inverted pair → words index of the same size.
  * That is vocabulary-scale state, never corpus-scale; a table too
  * large for the driver fails the collect with Spark's named
  * `spark.driver.maxResultSize` error.
  *
  * Simplification vs the paper: no end-of-word marker symbol — merges
  * never cross word boundaries here because pairs are only formed
  * within words, and the marker's only role (distinguishing
  * word-final units) is not load-bearing for corpus analytics. Words
  * are [[Dedup.tokens]] (lowercased whitespace tokens), keeping the
  * statistics aligned with every other token-level operator. */
object Bpe {

  /** Distinct words with frequencies — the only corpus-scale pass. */
  def wordCounts(docs: DataFrame, text: Column): DataFrame =
    docs.select(explode(Dedup.tokens(text)).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("wcount"))

  /** Character seed: each word as its symbol sequence (Spark's
    * `split(word, "")`, one symbol per code point). */
  def seedSymbols(words: DataFrame): DataFrame =
    words.select(split(col("word"), "").as("syms"), col("wcount"))

  /** Adjacent pairs as a plain codegen expression — `arrays_zip` of
    * the two shifted slices instead of the old
    * transform(sequence, i => struct(element_at, element_at)) tree,
    * whose lambda is CodegenFallback and re-evaluated interpreted per
    * element (the same trap the r16 shingle kernels removed). */
  private def pairsOf(syms: Column): Column =
    when(size(syms) >= 2,
      arrays_zip(slice(syms, lit(1), size(syms) - 1),
        slice(syms, lit(2), size(syms) - 1)))
      .otherwise(array().cast("array<struct<`0`:string,`1`:string>>"))

  /** Adjacent-pair frequencies over the current symbol table,
    * weighted by word frequency. */
  def pairCounts(symWords: DataFrame): DataFrame =
    symWords.select(col("wcount"), explode(pairsOf(col("syms"))).as("p"))
      .groupBy(col("p.0").as("a"), col("p.1").as("b"))
      .agg(sum(col("wcount")).as("freq"))

  /** One merge applied to a symbol sequence: greedy left-to-right,
    * non-overlapping — the fold replaces the output's tail when it
    * reads `a` and the next symbol is `b`, so a freshly merged symbol
    * never re-merges with the same rule in this pass (exactly the
    * paper's semantics). Fused codegen kernel
    * ([[graft.functions.Kernels.mergeFold]]): the old interpreted
    * `aggregate` lambda re-allocated the accumulator per element and
    * forced a fresh plan+codegen per training round. */
  def mergeOnce(syms: Column, a: String, b: String): Column =
    graft.functions.GraftFunctions.mergeFold(syms, Array(a, b))

  case class Merge(rank: Int, a: String, b: String, freq: Long)

  /** Learn `numMerges` merges by strict BPE: each round merges the
    * single most frequent pair, ties broken freq desc, then a, then b
    * in Spark's string order (UTF-8 bytes, i.e. code points). Stops
    * early when no adjacent pair is left. This is [[trainBatched]]
    * with one merge per round: one distributed word-table pass, then
    * every round on the driver. */
  def train(docs: DataFrame, text: Column, numMerges: Int): Seq[Merge] =
    trainBatched(docs, text, numMerges, maxBatch = 1)

  /** Apply a BATCH of symbol-disjoint merges in ONE fold pass: the
    * output's tail + current symbol probe the rule batch instead of a
    * single (a, b) literal. For pairs sharing no symbols this is
    * exactly sequential application (disjoint merges can't chain or
    * overlap within a word). Same fused kernel as [[mergeOnce]]. */
  def mergeBatch(syms: Column, pairs: Seq[(String, String)]): Column =
    graft.functions.GraftFunctions.mergeFold(syms,
      pairs.flatMap(p => Seq(p._1, p._2)).toArray)

  /** Learn up to `numMerges` merges, accepting up to `maxBatch` per
    * round. The word table is counted on the cluster and collected
    * once; the rounds run on the driver over in-memory pair counts
    * (see the object doc for the memory contract), so no Spark action
    * runs after the collect.
    *
    * Within a round the top `4 × budget` pairs (rank order: freq desc,
    * a, b) are the candidates, accepted in rank order only while
    * provably independent of every already-accepted merge:
    * symbol-disjoint (no chaining/overlap → one-pass apply is exactly
    * sequential apply, and their counts on the pre-round table remain
    * valid), and no accepted concatenation collides with a candidate's
    * symbols (a fresh `ab` must not feed a same-round `(ab, x)` rule).
    *
    * Honesty contract: `maxBatch = 1` IS strict reference BPE (it is
    * [[train]]). Batching used to save Spark jobs (one rewrite job per
    * round instead of per merge); with the rounds in memory it saves
    * nothing, and larger batches only keep the standard fastBPE-style
    * approximation — a merge created mid-round (e.g. `(ab, c)`) cannot
    * outrank remaining candidates until the next round, so merge ORDER
    * may deviate from strict BPE; ranks stay deterministic. */
  def trainBatched(docs: DataFrame, text: Column, numMerges: Int,
      maxBatch: Int = 8): Seq[Merge] = {
    val state = new MergeState(seedSymbols(wordCounts(docs, text)).collect()
      .map(r => (r.getSeq[String](0), r.getLong(1))))
    val out = ArrayBuffer.empty[Merge]
    var done = false
    while (out.size < numMerges && !done) {
      val budget = math.min(maxBatch, numMerges - out.size)
      // over-collect 4x: disjointness filtering thins the prefix
      val cand = state.top(budget * 4)
      if (cand.isEmpty) done = true
      else {
        val used = mutable.Set.empty[String]
        val accepted = ArrayBuffer.empty[(String, String, Long)]
        for ((a, b, f) <- cand if accepted.size < budget) {
          val indep = !used(a) && !used(b) && !used(a + b) &&
            !accepted.exists { case (x, y, _) =>
              val cat = x + y
              cat == a || cat == b || a + b == x || a + b == y
            }
          if (indep) {
            accepted += ((a, b, f)); used += a; used += b; used += a + b
          }
        }
        accepted.foreach { case (a, b, f) =>
          out += Merge(out.size + 1, a, b, f)
        }
        state.merge(accepted.map(m => (m._1, m._2)).toSeq)
      }
    }
    out.toSeq
  }

  /** Rank order of a pair count: freq desc, then a, then b, each
    * string compared as Spark orders strings (UTF-8 bytes, i.e. code
    * points — not `String.compareTo`'s UTF-16 units). */
  private val rankOrder: Ordering[(Long, UTF8String, UTF8String)] = {
    val bytes: Ordering[UTF8String] = (x, y) => x.binaryCompare(y)
    Ordering.Tuple3(Ordering.Long.reverse, bytes, bytes)
  }

  /** The driver-side state of a BPE fit over the collected word
    * table: each distinct word's current symbols and count, the
    * word-weighted count of every adjacent pair, those counts ranked
    * by [[rankOrder]], and an inverted pair → words index. The index
    * may keep a word under a pair it no longer holds, never the
    * reverse, so a round re-scans only the words listed under its
    * merged pairs (the incremental update of `learn_bpe.py`). Symbols
    * stay Spark's `UTF8String`s and a merge is the same
    * [[graft.functions.Kernels.mergeFold]] kernel the column API
    * runs, so the merge rule and string order are Spark's own. */
  private final class MergeState(table: Array[(Seq[String], Long)]) {
    private type Pair = (UTF8String, UTF8String)
    private val syms: Array[ArrayData] = table.map { case (s, _) =>
      new GenericArrayData(s.map(UTF8String.fromString).toArray[Any])
    }
    private val wcount: Array[Long] = table.map(_._2)
    private val freq = mutable.HashMap.empty[Pair, Long]
    private val ranked = mutable.TreeSet.empty(rankOrder)
    private val holders = mutable.HashMap.empty[Pair, mutable.Set[Int]]

    locally {
      val delta = mutable.HashMap.empty[Pair, Long]
      syms.indices.foreach(w => addPairs(w, 1, delta))
      applyDelta(delta)
    }

    /** The `k` highest-ranked pairs with their counts, in rank order. */
    def top(k: Int): Seq[(String, String, Long)] =
      ranked.iterator.take(k)
        .map { case (f, a, b) => (a.toString, b.toString, f) }.toSeq

    /** Apply one round's rules (one fold pass per word, as
      * [[mergeBatch]]) to every word that may hold one of them, and
      * move the pair counts by the difference. */
    def merge(rules: Seq[(String, String)]): Unit = {
      val flat = rules.flatMap(r => Seq(r._1, r._2)).map(UTF8String.fromString).toArray
      val touched = rules.flatMap { case (a, b) =>
        holders.remove((UTF8String.fromString(a), UTF8String.fromString(b)))
          .getOrElse(Nil)
      }.distinct
      val delta = mutable.HashMap.empty[Pair, Long]
      for (w <- touched) {
        val next = graft.functions.Kernels.mergeFold(syms(w), flat)
        if (next.numElements() != syms(w).numElements()) {
          addPairs(w, -1, delta)
          syms(w) = next
          addPairs(w, 1, delta)
        }
      }
      applyDelta(delta)
    }

    /** Add (`sign` = 1) or remove (-1) word `w`'s count at each of its
      * adjacent pairs in `delta`; an added word is listed under them. */
    private def addPairs(w: Int, sign: Int,
        delta: mutable.HashMap[Pair, Long]): Unit = {
      val s = syms(w)
      var i = 0
      while (i + 1 < s.numElements()) {
        val p = (s.getUTF8String(i), s.getUTF8String(i + 1))
        delta(p) = delta.getOrElse(p, 0L) + sign * wcount(w)
        if (sign > 0) holders.getOrElseUpdate(p, mutable.Set.empty[Int]) += w
        i += 1
      }
    }

    private def applyDelta(delta: mutable.HashMap[Pair, Long]): Unit =
      delta.foreach { case (p, d) =>
        if (d != 0) {
          val old = freq.getOrElse(p, 0L)
          if (old > 0) ranked -= ((old, p._1, p._2))
          val now = old + d
          if (now > 0) { freq(p) = now; ranked += ((now, p._1, p._2)) }
          else freq -= p
        }
      }
  }

  /** The learned merge ranks in rank order, applied to a text column:
    * per word, chars folded through every merge. Expression depth
    * grows with the merge count — intended for the small-k analytic
    * tokenizer, not a production vocab. */
  def applySymbols(text: Column, merges: Seq[(String, String)]): Column =
    transform(Dedup.tokens(text), w =>
      merges.foldLeft(split(w, "")) { case (syms, (a, b)) =>
        mergeOnce(syms, a, b)
      })

  /** BPE token count per row under the learned merges — the fused
    * codegen kernel ([[graft.functions.Kernels.bpeTokenCount]]), not
    * the [[applySymbols]] column fold: interpreted, that fold nests
    * one `aggregate` lambda per merge per word (measured 30s+ over
    * sf0.1 at 12 merges); the kernel is one linear pass per merge,
    * same greedy left-to-right merge rule (reference-parity proven in
    * BpeSpec on the real corpus). */
  def tokenCount(text: Column, merges: Seq[(String, String)]): Column =
    graft.functions.GraftFunctions.bpeCount(text,
      merges.flatMap(m => Seq(m._1, m._2)).toArray)

  /** Persist a trained merge table — the write-once half of the
    * fit-once/tokenize-every-increment crawl shape (the standing
    * store discipline of [[LangModel.buildBigramStats]]): fitting
    * costs a pass over the whole corpus, while tokenizing an increment
    * needs only the ~KB merge table, so the fit's durable artifact is
    * the thing every later increment reads. `path/merges` = (rank, a, b, freq) parquet; `path/meta` = the
    * merge count, written LAST as the commit marker (a crashed build
    * leaves no meta and [[mergesFromStore]] refuses the partial
    * store). Models are immutable fits — no append path. */
  def buildStore(spark: org.apache.spark.sql.SparkSession,
      merges: Seq[Merge], path: String): Unit = {
    import spark.implicits._
    spark.createDataFrame(merges)
      .select(col("rank").cast("long").as("rank"), col("a"), col("b"),
        col("freq"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/merges")
    Seq(merges.size.toLong).toDF("n_merges").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Train ([[trainBatched]]) and persist in one call. */
  def fitToStore(docs: DataFrame, text: Column, numMerges: Int,
      path: String, maxBatch: Int = 1): Seq[Merge] = {
    val m = trainBatched(docs, text, numMerges, maxBatch)
    buildStore(docs.sparkSession, m, path)
    m
  }

  /** The stored merge table in rank order. The collect is bounded
    * model state (numMerges rows — vocabulary-scale, never corpus-
    * scale), the same contract as the IVF probe list; the meta
    * commit marker is verified against the row count so a torn or
    * partial store fails loudly instead of tokenizing wrong. */
  def mergesFromStore(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Merge] = {
    val n = spark.read.parquet(s"$path/meta").head().getLong(0)
    val rows = spark.read.parquet(s"$path/merges").orderBy("rank").collect()
    require(rows.length == n,
      s"bpe store at $path is torn: meta says $n merges, table has ${rows.length}")
    // rank order is the tokenizer's application order — a store with
    // duplicated or gapped ranks would apply merges nondeterministically
    require(rows.zipWithIndex.forall { case (r, i) =>
      r.getLong(r.fieldIndex("rank")) == i + 1 },
      s"bpe store at $path has a non-contiguous rank sequence")
    rows.map(r => Merge(r.getLong(r.fieldIndex("rank")).toInt,
      r.getString(r.fieldIndex("a")), r.getString(r.fieldIndex("b")),
      r.getLong(r.fieldIndex("freq")))).toSeq
  }

  /** [[tokenCount]] against a STORED merge table — the per-increment
    * read path: no training jobs, no corpus rescan, just the kernel
    * under the loaded ranks. */
  def tokenCountAgainstStore(spark: org.apache.spark.sql.SparkSession,
      path: String, text: Column): Column =
    tokenCount(text, mergesFromStore(spark, path).map(m => (m.a, m.b)))
}
