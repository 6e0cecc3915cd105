package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Perceptual-hash media dedup: kernel properties (determinism,
  * locality of the block-mean construction) and exactness of the
  * multi-index blocking against brute-force hamming — the same
  * contract the text simhash funnel proves in DedupSpec. */
class MultimodalSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Deterministic fake payloads: 40 "originals" (1 KB of seeded
    * bytes) + a near-dup of each even original with one 16-byte run
    * overwritten (touches ≤ 2 of the 64 blocks → hamming ≤ 2). */
  private lazy val media: DataFrame = {
    import spark.implicits._
    def payload(seed: Int): Array[Byte] = {
      val b = new Array[Byte](1024)
      var x = seed.toLong * 6364136223846793005L + 1442695040888963407L
      var i = 0
      while (i < b.length) {
        x = x * 6364136223846793005L + 1442695040888963407L
        b(i) = (x >>> 56).toByte
        i += 1
      }
      b
    }
    val base = (0 until 40).map(d => (d.toLong, payload(d)))
    val dups = (0 until 40 by 2).map { d =>
      val p = payload(d)
      java.util.Arrays.fill(p, 512, 528, 0x7f.toByte)
      (1000L + d, p)
    }
    (base ++ dups).toDF("doc_id", "media")
  }

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def brutePairs(fps: DataFrame, maxHamming: Int): Set[(Long, Long)] = {
    val a = fps.select(col("doc_id").as("id_a"), col("fp").as("fp_a"))
    val b = fps.select(col("doc_id").as("id_b"), col("fp").as("fp_b"))
    pairSet(a.crossJoin(b).filter(col("id_a") < col("id_b") &&
      bit_count(col("fp_a").bitwiseXOR(col("fp_b"))) <= maxHamming))
  }

  test("phash64 kernel: deterministic, local edits flip few bits, empty -> 0") {
    import spark.implicits._
    val fps = media.select(col("doc_id"), Multimodal.phash64(col("media")).as("fp"))
    val byId = fps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val again = media.select(col("doc_id"), Multimodal.phash64(col("media")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId === again)
    // a 16-byte overwrite spans at most 2 of the 64 16-byte blocks
    (0 until 40 by 2).foreach { d =>
      val h = java.lang.Long.bitCount(byId(d.toLong) ^ byId(1000L + d))
      assert(h <= 2, s"doc $d: localized edit flipped $h bits")
    }
    // unrelated payloads differ widely (random bytes -> ~32 bit distance)
    assert(java.lang.Long.bitCount(byId(0L) ^ byId(1L)) > 8)
    val empty = Seq((0L, Array.empty[Byte])).toDF("doc_id", "media")
      .select(Multimodal.phash64(col("media"))).head().getLong(0)
    assert(empty === 0L)
  }

  test("phashPairs blocking is EXACT vs brute-force hamming (default and h=chunks configs)") {
    val fps = media.select(col("doc_id"), Multimodal.phash64(col("media")).as("fp"))
    for (h <- Seq(2, 3, 4)) {
      val blocked = pairSet(Multimodal.phashPairs(media, col("doc_id"),
        col("media"), maxHamming = h))
      val brute = brutePairs(fps, h)
      assert(brute.nonEmpty, s"fixture must contain pairs at hamming $h")
      assert(blocked === brute, s"maxHamming=$h")
    }
  }

  test("phash index: indexed query == inline pairs touching the increment; append idempotent") {
    import spark.implicits._
    val path = graft.TempDirs.create("ph_idx").toString
    val store = media.filter(col("doc_id") < 1000L)      // originals
    val increment = media.filter(col("doc_id") >= 1000L) // re-encodes
    Multimodal.buildPhashIndex(store, col("doc_id"), col("media"), path)

    val indexed = Multimodal.phashAgainstIndex(spark, path, increment,
        col("doc_id"), col("media"), maxHamming = 3)
      .select("id_a", "id_b", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val newIds = increment.select("doc_id").collect().map(_.getLong(0)).toSet
    val inline: Set[(Long, Long, Int)] = Multimodal.phashPairs(media,
        col("doc_id"), col("media"), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val inlineNew = inline.filter { case (a, b, _) => newIds(a) || newIds(b) }
    assert(inlineNew.nonEmpty)
    assert(indexed === inlineNew)

    val before = spark.read.parquet(path).count()
    Multimodal.appendToPhashIndex(spark, path, increment, col("doc_id"), col("media"))
    Multimodal.appendToPhashIndex(spark, path, increment, col("doc_id"), col("media"))
    assert(spark.read.parquet(path).count() === before + newIds.size,
      "replayed append must not duplicate")
  }

  test("phash index streaming append == batch append; streamed docs findable") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val sPath = graft.TempDirs.create("ph_s").toString
    val bPath = graft.TempDirs.create("ph_b").toString
    val store = media.filter(col("doc_id") < 1000L)
    val increment = media.filter(col("doc_id") >= 1000L)
    Multimodal.buildPhashIndex(store, col("doc_id"), col("media"), sPath)
    Multimodal.buildPhashIndex(store, col("doc_id"), col("media"), bPath)
    Multimodal.appendToPhashIndex(spark, bPath, increment, col("doc_id"), col("media"))

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Byte])]
    val ckpt = graft.TempDirs.create("ph_ck").toString
    val q = graft.streaming.StreamingIngest.foreachBatch(
        mem.toDF().toDF("doc_id", "media"), ckpt)(
      (b, _) => Multimodal.appendToPhashIndex(b.sparkSession, sPath, b,
        col("doc_id"), col("media")))
    val rows = increment.collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    mem.addData(rows.take(7): _*); q.processAllAvailable()
    mem.addData(rows.drop(7): _*); q.processAllAvailable()
    q.stop()

    def rowsOf(p: String) = spark.read.parquet(p)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rowsOf(sPath) === rowsOf(bPath))
    // a later re-encode of a streamed doc finds it through the index
    val probe = increment.filter(col("doc_id") === 1000L)
      .select(lit(5000L).as("doc_id"), col("media"))
    val found = Multimodal.phashAgainstIndex(spark, sPath, probe,
        col("doc_id"), col("media"), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.contains((1000L, 5000L)))
  }

  // ------------------------------------------------------- real codecs

  private def pix(x: Int, y: Int): (Int, Int, Int) =
    ((x * 7 + y * 3) % 256, (x + y * 11) % 256, (x * 5 + y) % 256)

  test("BMP/PPM/PGM encode→decodeHeader round-trips real dimensions") {
    for ((bytes, fmt, w, h, ch) <- Seq(
        (Codecs.encodeBmp(17, 9, pix), "bmp", 17, 9, 3),
        (Codecs.encodePpm(5, 21, pix), "ppm", 5, 21, 3),
        (Codecs.encodePgm(33, 2, (x, y) => pix(x, y)._1), "pgm", 33, 2, 1))) {
      val m = Codecs.decodeHeader(bytes).get
      assert((m.format, m.width, m.height, m.channels) === ((fmt, w, h, ch)))
    }
    // undecodable payloads must not parse
    assert(Codecs.decodeHeader("just some text".getBytes).isEmpty)
  }

  test("BMP depth envelope: 8-bit palette + 32-bpp decode; compressed/16bpp refused") {
    val w = 13; val h = 7
    // 8-bit palette: gray ramp makes luma = index exactly
    def idx(x: Int, y: Int): Int = (x * 5 + y * 11) % 256
    val b8 = Codecs.encodeBmp8(w, h, (0 until 256).map(i => (i, i, i)), idx)
    val Some((w8, h8, g8)) = Codecs.decodeGray(b8)
    assert(w8 === w && h8 === h)
    for (y <- 0 until h; x <- 0 until w)
      assert((g8(y * w + x) & 0xff) === idx(x, y), s"8bpp ($x,$y)")
    // a COLOR palette must go through the BGRA quads, not the index
    val colorPal = (0 until 256).map(i => (i, (i * 3) % 256, (i * 7) % 256))
    val b8c = Codecs.encodeBmp8(w, h, colorPal, idx)
    val Some((_, _, g8c)) = Codecs.decodeGray(b8c)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, bl) = colorPal(idx(x, y))
      assert((g8c(y * w + x) & 0xff) === (299 * r + 587 * g + 114 * bl) / 1000)
    }
    // 32-bpp BGRA: alpha ignored, luma = BT.601 of the BGR triple
    def rgb(x: Int, y: Int): (Int, Int, Int) =
      ((x * 31 + y) % 256, (x + y * 17) % 256, (x * 3 + y * 5) % 256)
    val b32 = Codecs.encodeBmp32(w, h, rgb)
    val Some((w32, h32, g32)) = Codecs.decodeGray(b32)
    assert(w32 === w && h32 === h)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, bl) = rgb(x, y)
      assert((g32(y * w + x) & 0xff) === (299 * r + 587 * g + 114 * bl) / 1000,
        s"32bpp ($x,$y)")
    }
    // ImageIO agrees with our 8-bit decode (foreign-decoder
    // cross-check; raster samples — the gray-ramp palette makes
    // ImageIO build a TYPE_BYTE_GRAY image whose getRGB would apply
    // a gray→sRGB colorspace conversion)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b8))
    assert(img != null)
    for (y <- 0 until h; x <- 0 until w)
      assert(img.getRaster.getSample(x, y, 0) === idx(x, y), s"imageio ($x,$y)")
    // non-BI_RGB compression and 16bpp are declared Unsupported
    // (fallback), not decode attempts
    val rle = b8.clone(); rle(30) = 1 // biCompression = BI_RLE8
    assert(Codecs.decodeGray(rle).isEmpty)
    val b16 = Codecs.encodeBmp(4, 4, pix).clone(); b16(28) = 16
    assert(Codecs.decodeGray(b16).isEmpty)
  }

  test("PNG IHDR header parse reads big-endian dims and color type") {
    // hand-built signature + IHDR chunk (CRC irrelevant to the parse)
    val b = new Array[Byte](33)
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    System.arraycopy(sig, 0, b, 0, 8)
    b(11) = 13 // IHDR length
    b(12) = 'I'; b(13) = 'H'; b(14) = 'D'; b(15) = 'R'
    b(16) = 0; b(17) = 0; b(18) = 0x01; b(19) = 0x40 // w = 320
    b(20) = 0; b(21) = 0; b(22) = 0; b(23) = 0xb4.toByte // h = 180
    b(24) = 8; b(25) = 6 // bit depth 8, RGBA
    val m = Codecs.decodeHeader(b).get
    assert((m.format, m.width, m.height, m.channels) === (("png", 320, 180, 4)))
  }

  test("decodeGray reproduces BT.601 luma of every pixel, all formats") {
    def luma(rgb: (Int, Int, Int)): Int =
      (299 * rgb._1 + 587 * rgb._2 + 114 * rgb._3) / 1000
    val w = 19; val h = 7
    for (bytes <- Seq(Codecs.encodeBmp(w, h, pix), Codecs.encodePpm(w, h, pix))) {
      val (dw, dh, g) = Codecs.decodeGray(bytes).get
      assert((dw, dh) === ((w, h)))
      for (y <- 0 until h; x <- 0 until w)
        assert((g(y * w + x) & 0xff) === luma(pix(x, y)),
          s"pixel ($x,$y) — bottom-up/stride/channel-order walk broken")
    }
    val (dw, dh, g) = Codecs.decodeGray(
      Codecs.encodePgm(w, h, (x, y) => pix(x, y)._1)).get
    assert((dw, dh) === ((w, h)))
    for (y <- 0 until h; x <- 0 until w)
      assert((g(y * w + x) & 0xff) === pix(x, y)._1)
  }

  test("PNG encode→decodeGray equals the BMP twin through DEFLATE") {
    val w = 19; val h = 7
    val png = Codecs.encodePng(w, h, pix)
    val m = Codecs.decodeHeader(png).get
    assert((m.format, m.width, m.height, m.channels) === (("png", w, h, 3)))
    val (pw, ph, pg) = Codecs.decodeGray(png).get
    val (_, _, bg) = Codecs.decodeGray(Codecs.encodeBmp(w, h, pix)).get
    assert((pw, ph) === ((w, h)))
    assert(pg.toSeq === bg.toSeq,
      "same pixel grid through PNG (inflate) and BMP must decode identically")
  }

  test("PNG filter reversal: Sub/Up/Average/Paeth rows round-trip") {
    val w = 5; val h = 4; val ch = 3
    val stride = ch * w
    def raw(x: Int, y: Int, c: Int): Int = {
      val (r, g, b) = pix(x, y); Seq(r, g, b)(c)
    }
    // forward-apply filter y+1 (Sub/Up/Average/Paeth) to row y, per
    // the PNG spec's predictors over the RECONSTRUCTED bytes
    val lines = new Array[Byte](h * (1 + stride))
    for (y <- 0 until h) {
      val f = y + 1
      lines(y * (1 + stride)) = f.toByte
      for (i <- 0 until stride) {
        val x = raw(i / ch, y, i % ch)
        val a = if (i >= ch) raw((i - ch) / ch, y, i % ch) else 0
        val u = if (y > 0) raw(i / ch, y - 1, i % ch) else 0
        val ul = if (y > 0 && i >= ch) raw((i - ch) / ch, y - 1, i % ch) else 0
        val pred = f match {
          case 1 => a
          case 2 => u
          case 3 => (a + u) / 2
          case 4 =>
            val p = a + u - ul
            val pa = math.abs(p - a); val pb = math.abs(p - u)
            val pc = math.abs(p - ul)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) u else ul
        }
        lines(y * (1 + stride) + 1 + i) = (x - pred).toByte
      }
    }
    val png = Codecs.wrapPng(w, h, colorType = 2, lines)
    val (dw, dh, g) = Codecs.decodeGray(png).get
    assert((dw, dh) === ((w, h)))
    def luma(rgb: (Int, Int, Int)): Int =
      (299 * rgb._1 + 587 * rgb._2 + 114 * rgb._3) / 1000
    for (y <- 0 until h; x <- 0 until w)
      assert((g(y * w + x) & 0xff) === luma(pix(x, y)),
        s"pixel ($x,$y) after filter ${y + 1} reversal")
  }

  test("decodeGrayStage feeds real pixels to phash; stub path flagged") {
    import spark.implicits._
    val rows = Seq(
      (1L, Codecs.encodeBmp(32, 16, pix)),
      (2L, Codecs.encodePpm(32, 16, pix)),
      (3L, "not an image at all".getBytes)).toDF("doc_id", "media")
    val out = Multimodal.decodeGrayStage(rows)
      .select(col("doc_id"), col("width"), col("decoded"),
        Multimodal.phash64(col("gray")).as("fp"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getBoolean(2), r.getLong(3))))
      .toMap
    assert(out(1L)._1 === 32 && out(1L)._2 && out(2L)._2 && !out(3L)._2)
    // same image content through two containers → same decoded pixels
    // → identical phash; the undecodable payload hashes its raw bytes
    assert(out(1L)._3 === out(2L)._3,
      "BMP and PPM of the same pixel grid must phash identically")
    assert(out(3L)._3 !== out(1L)._3)
  }

  test("decode dispatch is ledgered: real / quarantined / fallback counts per stage") {
    import spark.implicits._
    def counts(): Map[String, Long] =
      Ledger.summary().collect {
        case (n, c, _) if n.startsWith("media.decode_") => n -> c
      }.toMap.withDefaultValue(0L)
    // truncated BMP: valid magic + header, body shorter than one row
    val torn = Codecs.encodeBmp(32, 16, pix).take(60)
    // valid LOSSY webp: since r15 the VP8 key-frame decoder is in the
    // pure-JVM set, so this is a REAL decode (it was the disclosed
    // fallback before)
    val lossy = {
      val (p, _) = Vp8.encodeVp8Still(24, 16,
        (bx, by) => 40 + 20 * bx + 10 * by, qIndex = 8, nParts = 1)
      Webp.wrapRiffChunks(Seq("VP8 " -> p))
    }
    // truncated LOSSY webp: header parses, body damaged — with the
    // codec in-set this is now corpus damage (quarantined), not a
    // capability gap
    val tornLossy = {
      val (p, _) = Vp8.encodeVp8Still(24, 16,
        (bx, by) => 40 + 20 * bx + 10 * by, qIndex = 8, nParts = 1)
      Webp.wrapRiffChunks(Seq("VP8 " -> p.take(11)))
    }
    // 4-component CMYK JPEG: in-set since r16 (Adobe APP14 path)
    val cmyk = Multimodal.syntheticJpegCmyk(6L, "unused")
    // animated WebP: in-set since r16 via the poster-frame decode
    // (first decodable ANMF frame composited onto the background)
    val anim = Multimodal.syntheticAnimWebpComposited(1L, "unused")
    // animated WebP whose every sub-frame body is torn: the header
    // parses but no frame decodes — corpus damage, quarantined
    val tornAnim = {
      val (p, _) = Vp8.encodeVp8Still(16, 16, (_, _) => 80,
        qIndex = 8, nParts = 1)
      Webp.wrapAnimFlagged(40, 40, Seq(("VP8 ", p.take(9), 0, 0, 40, 0)))
    }
    val rows = Seq(
      (1L, Codecs.encodeBmp(32, 16, pix)),
      (2L, torn),
      (3L, "not-a-known-container".getBytes),
      (4L, lossy),
      (5L, tornLossy),
      (6L, cmyk),
      (7L, anim),
      (8L, tornAnim)).toDF("doc_id", "media")
      .coalesce(1)
    val before = counts()
    val out = Multimodal.decodeGrayStage(rows).collect()
    assert(out.count(_.getBoolean(4)) === 4)
    assert(out.filter(!_.getBoolean(4)).forall(_.getInt(1) === 0),
      "the quarantine sentinel must not leak into the output schema")
    // the poster frame is at CANVAS dimensions
    val posterRow = out.find(_.getLong(0) == 7L).get
    assert(posterRow.getInt(1) === 40 && posterRow.getInt(2) === 40)
    val after = counts()
    assert(after("media.decode_gray.real") - before("media.decode_gray.real") === 4L)
    assert(after("media.decode_gray.quarantined") - before("media.decode_gray.quarantined") === 3L)
    assert(after("media.decode_gray.fallback") - before("media.decode_gray.fallback") === 1L,
      "unknown magic is the only fallback left in this set")
    // the meta stage counts real vs stub the same way
    val metaRows = rows.withColumn("media_type", lit("image"))
    val b2 = counts()
    Multimodal.decodeMetaAuto(metaRows).collect()
    val a2 = counts()
    // the torn BMP, both lossy webps, the CMYK jpeg, and both anim
    // containers still HEADER-parse (meta is honest about that):
    // 7 real + 1 stub
    assert(a2("media.decode_meta.real") - b2("media.decode_meta.real") === 7L)
    assert(a2("media.decode_meta.stub") - b2("media.decode_meta.stub") === 1L)
  }

  test("Ledger.snapshot is a queryable view of the engagement summary") {
    Ledger.add("spec.snapshot_probe", 7L, "first")
    Ledger.add("spec.snapshot_probe", 5L, "second")
    val row = Ledger.snapshot(spark)
      .filter(col("name") === "spec.snapshot_probe").collect()
    assert(row.length === 1)
    assert(row(0).getLong(1) >= 12L) // counts accumulate across suites
    assert(row(0).getString(2) === "second")
    // joinable against in-engine metadata (the snapshot's point)
    import spark.implicits._
    val meta = Seq(("spec.snapshot_probe", "probe")).toDF("name", "kind")
    assert(Ledger.snapshot(spark).join(meta, Seq("name")).count() === 1L)
  }

  test("phashPairs bucket cap drops clone floods, keeps base pairs") {
    import spark.implicits._
    val clone = new Array[Byte](256) // all zeros -> identical fp
    val clones = (0 until 30).map(i => (9000L + i, clone))
    val flooded = media.unionByName(clones.toDF("doc_id", "media"))
    val capped = pairSet(Multimodal.phashPairs(flooded, col("doc_id"),
      col("media"), maxHamming = 2, bucketCap = 20))
    assert(!capped.exists { case (a, b) => a >= 9000L || b >= 9000L })
    assert(capped.nonEmpty, "base near-dups must survive the cap")
  }

  test("WAV round trip: header fields, byte length, stereo mixdown") {
    val wav = Codecs.encodeWav(16000, 2, 300,
      (c, i) => ((i * 37 + c * 11) % 65536) - 32768)
    val h = Codecs.decodeWavHeader(wav).get
    assert(h.format === "wav" && h.sampleRate === 16000 &&
      h.channels === 2 && h.bitsPerSample === 16 && h.nSamples === 300)
    assert(wav.length === 44 + 2 * 2 * 300)
    val (_, mix) = Codecs.decodeWavMix(wav).get
    assert(mix.length === 300)
    // mixdown = channel sum of the closed-form samples, sign-extended
    (0 until 300).foreach { i =>
      val l = ((i * 37) % 65536) - 32768
      val r = ((i * 37 + 11) % 65536) - 32768
      assert(mix(i) === l + r, s"frame $i")
    }
    assert(Codecs.decodeWavHeader("RIFFgarbage".getBytes).isEmpty)
    assert(Codecs.decodeWavHeader("plain text".getBytes).isEmpty)
  }

  test("audioWindowFeatures matches a hand fold (incl. short last window)") {
    import spark.implicits._
    // 10 samples, window 4 -> windows of 4, 4, 2
    val vals = Seq(3, -1, -4, 2, 0, 5, -2, -3, 7, 1)
    val df = Seq((1L, 8000, 1, vals)).toDF("doc_id", "sample_rate", "channels", "mix")
    val rows = Multimodal.audioWindowFeatures(df, 4)
      .orderBy("win").collect()
    val wins = vals.grouped(4).toSeq
    assert(rows.length === 3)
    rows.zipWithIndex.foreach { case (r, w) =>
      val vs = wins(w)
      assert(r.getLong(2) === vs.map(v => v.toLong * v).sum, s"sum_sq w$w")
      assert(r.getLong(3) === vs.map(math.abs).max.toLong, s"peak w$w")
      val zc = vs.sliding(2).count(p => p.length == 2 && (p(0) < 0) != (p(1) < 0))
      assert(r.getLong(4) === zc.toLong, s"zc w$w")
    }
  }

  test("Y4M round trip: tags, frame count, real luma planes; marker desync fails") {
    val y4m = Codecs.encodeY4m(8, 6, 25, 1, 3,
      (f, x, y) => (f * 11 + x * 3 + y * 5) % 256,
      (f, x, y) => (f + x + y) % 256,
      (f, x, y) => (f * 2 + x + y) % 256)
    val h = Codecs.decodeY4mHeader(y4m).get
    assert(h.width === 8 && h.height === 6 && h.fpsNum === 25 &&
      h.fpsDen === 1 && h.nFrames === 3 && h.colorspace === "420jpeg")
    val f2 = Codecs.y4mFrameLuma(y4m, h, 2).get
    assert(f2.length === 48)
    (0 until 6).foreach(y => (0 until 8).foreach { x =>
      assert((f2(y * 8 + x) & 0xff) === (22 + x * 3 + y * 5) % 256)
    })
    // corrupt the second FRAME marker: the tolerant parser must refuse
    // rather than silently misread shifted planes
    val bad = y4m.clone()
    val off = h.firstFrameOff + h.frameBytes
    bad(off) = 'X'
    assert(Codecs.decodeY4mHeader(bad).isEmpty)
    assert(Codecs.decodeY4mHeader("not video".getBytes).isEmpty)
  }

  test("decodeAudioMeta / decodeVideoMeta stages: decoded flag honest") {
    import spark.implicits._
    val rows = Seq(
      (1L, Multimodal.syntheticWav(1L, "x")),
      (7L, Multimodal.syntheticWav(7L, "fallback text")), // id%7==0 -> raw
      (2L, Multimodal.syntheticY4m(2L, "y"))).toDF("doc_id", "media")
    val audio = Multimodal.decodeAudioMeta(rows).collect()
      .map(r => r.getLong(0) -> r.getBoolean(7)).toMap
    assert(audio(1L) && !audio(7L) && !audio(2L)) // y4m is not wav
    val video = Multimodal.decodeVideoMeta(rows).collect()
      .map(r => r.getLong(0) -> r.getBoolean(8)).toMap
    assert(video(2L) && !video(1L) && !video(7L))
  }

  test("sampleFrameLuma: sampled indices and plane sums match closed form") {
    import spark.implicits._
    val id = 3L
    val rows = Seq((id, Multimodal.syntheticY4m(id, ""))).toDF("doc_id", "media")
    // id=3: w=14, h=6, frames=5 -> sampled 0, 2, 4
    val out = Multimodal.sampleFrameLuma(rows, 2).collect()
      .map(r => r.getInt(1) -> r.getAs[Array[Byte]](4)).toMap
    assert(out.keySet === Set(0, 2, 4))
    out.foreach { case (f, g) =>
      val expect = (for { y <- 0 until 6; x <- 0 until 14 }
        yield (id + 11L * f + 3L * x + 5L * y) % 256).sum
      assert(g.map(_ & 0xff).map(_.toLong).sum === expect, s"frame $f")
    }
  }

  test("resizeNearest: identity, hand-checked 2x down, upscale repeats") {
    val g = Array.tabulate(4 * 4)(i => i.toByte)
    assert(Codecs.resizeNearest(g, 4, 4, 4, 4).toSeq === g.toSeq)
    // 2x downscale keeps every even row/col pixel: (0,0),(2,0),(0,2),(2,2)
    assert(Codecs.resizeNearest(g, 4, 4, 2, 2).toSeq ===
      Seq[Byte](0, 2, 8, 10))
    // upscale 2x2 -> 4x4 repeats each source pixel in a 2x2 block
    val s = Array[Byte](1, 2, 3, 4)
    assert(Codecs.resizeNearest(s, 2, 2, 4, 4).toSeq ===
      Seq[Byte](1, 1, 2, 2, 1, 1, 2, 2, 3, 3, 4, 4, 3, 3, 4, 4))
  }

  test("resizeGrayStage emits fixed-size planes over decoded input") {
    import spark.implicits._
    val rows = Seq(
      (1L, Codecs.encodeBmp(32, 16, pix)),
      (2L, Codecs.encodePgm(5, 3, (x, y) => (x + y) % 256))).toDF("doc_id", "media")
    val out = Multimodal.resizeGrayStage(
      Multimodal.decodeGrayStage(rows).filter(col("decoded")), 8, 8)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](3)).toMap
    assert(out.size === 2)
    assert(out.values.forall(_.length === 64))
    // doc 2 upscales 5x3 -> 8x8; corner pixels map to source corners
    val g2 = out(2L)
    assert((g2(0) & 0xff) === 0)          // (0,0) -> src (0,0) = 0
    assert((g2(63) & 0xff) === (4 + 2))   // (7,7) -> src (7*5/8, 7*3/8) = (4,2)
  }

  test("decodeMetaAuto dispatches stills, wav, and y4m by magic bytes") {
    import spark.implicits._
    val rows = Seq(
      (1L, "image", Codecs.encodePgm(4, 3, (x, y) => x + y)),
      (2L, "audio", Codecs.encodeWav(8000, 2, 100, (c, i) => i - 50)),
      (3L, "video", Codecs.encodeY4m(8, 6, 30, 1, 4,
        (f, x, y) => f, (f, x, y) => 128, (f, x, y) => 128)),
      (4L, "image", "undecodable".getBytes)).toDF("doc_id", "media_type", "media")
    val out = Multimodal.decodeMetaAuto(rows).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(2), r.getInt(4), r.getInt(5), r.getInt(6), r.getInt(7),
          r.getBoolean(8)))).toMap
    assert(out(1L) === (("pgm", 4, 3, 1, 1, true)))
    assert(out(2L) === (("wav", 0, 0, 2, 100, true)))
    assert(out(3L) === (("y4m", 8, 6, 3, 4, true)))
    assert(out(4L)._1 === "unknown" && !out(4L)._6)
  }

  test("audioFingerprint: channel swap preserves fp; pairs funnel finds it") {
    import spark.implicits._
    val base = (1 to 9).map(i => (i.toLong, Multimodal.syntheticWav(i, "t")))
    // ids 1, 3, 5, 7(raw text - dropped), 9 are stereo; swap id 3
    val rows = (base :+ (1000003L, Multimodal.syntheticWavSwapped(3L)))
      .toDF("doc_id", "media")
    val fps = Multimodal.audioFingerprint(
      Multimodal.decodeAudioMixStage(rows))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!fps.contains(7L), "undecodable clip must be dropped")
    assert(fps(1000003L) === fps(3L),
      "channel-swapped payload must fingerprint identically")
    val pairs = Multimodal.audioFingerprintPairs(rows, maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((3L, 1000003L)))
  }
  test("palette PNG expands through PLTE to the same luma as truecolor") {
    // a 4x3 image over a 5-color palette vs the same pixels as RGB
    val w = 4; val h = 3
    val palette = Array[Int](
      10, 20, 30,   200, 100, 50,   0, 0, 0,   255, 255, 255,   7, 99, 180)
      .map(_.toByte)
    val idx = Array[Int](0, 1, 2, 3, 4, 0, 1, 2, 3, 4, 0, 1).map(_.toByte)
    val pal = Codecs.encodePalettePng(w, h, palette, idx)
    val rgb = idx.flatMap(i => Seq(palette(3 * (i & 0xff)),
      palette(3 * (i & 0xff) + 1), palette(3 * (i & 0xff) + 2)))
    val raw = new Array[Byte](h * (1 + 3 * w))
    (0 until h).foreach(y =>
      System.arraycopy(rgb, y * 3 * w, raw, y * (1 + 3 * w) + 1, 3 * w))
    val tc = Codecs.wrapPng(w, h, colorType = 2, raw)
    val gp = Codecs.decodeGray(pal).get
    val gt = Codecs.decodeGray(tc).get
    assert(gp._1 === w && gp._2 === h)
    assert(java.util.Arrays.equals(gp._3, gt._3),
      "palette and truecolor decodes of the same pixels must agree")
    // header path reports the palette container too
    val hd = Codecs.decodeHeader(pal).get
    assert(hd.format === "png" && hd.width === w && hd.height === h)
  }

  test("palette PNG rejects out-of-range indices and missing PLTE") {
    val palette = Array[Int](1, 2, 3).map(_.toByte) // 1 entry
    val bad = Codecs.encodePalettePng(2, 1, palette,
      Array[Byte](0, 5)) // index 5 out of range
    assert(Codecs.decodeGray(bad).isEmpty)
    // color type 3 with no PLTE chunk at all
    val noPlte = Codecs.wrapPng(2, 1, colorType = 3,
      Array[Byte](0, 0, 0))
    assert(Codecs.decodeGray(noPlte).isEmpty)
  }
}
