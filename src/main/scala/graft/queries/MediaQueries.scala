package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops._
import graft.queries.Oracle.{RowsOnly, Sql}
/** Multimodal operators: image/audio/video decode, perceptual hashes
  * and fingerprints, and their near-duplicate pairs. */
object MediaQueries {

  import graft.SparkEntry._

  val rows: Seq[Query] = Seq(

    // multimodal: stubbed decode over BINARY media column (real plumbing)
    Query("mm_decode_meta", (s, dir) =>
      Multimodal.decodeMeta(Multimodal.asMediaTable(table(s, dir, "documents")))
        .orderBy("doc_id"),
    Sql(
      """WITH m AS (SELECT doc_id,
           ['image','video','audio'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
           octet_length(CAST(text AS BLOB)) AS n FROM documents)
         SELECT doc_id, media_type, CAST(n AS BIGINT) AS byte_len,
           CAST(CASE media_type WHEN 'image' THEN 256 + n % 256 WHEN 'video' THEN 640 ELSE 0 END AS INT) AS width,
           CAST(CASE media_type WHEN 'image' THEN 256 + (n * 31) % 256 WHEN 'video' THEN 360 ELSE 0 END AS INT) AS height,
           CAST(CASE media_type WHEN 'audio' THEN 1 + n % 2 ELSE 3 END AS INT) AS channels,
           CAST(CASE media_type WHEN 'image' THEN 1 WHEN 'video' THEN 1 + n % 300 ELSE 1 + n // 64 END AS INT) AS n_frames
         FROM m ORDER BY doc_id""")),

    // multimodal: feature stage over decoded metadata (column math)
    Query("mm_media_features", (s, dir) =>
      Multimodal.mediaFeatures(
        Multimodal.decodeMeta(Multimodal.asMediaTable(table(s, dir, "documents"))))
        .select(col("doc_id"), col("media_type"),
          round(col("aspect"), 6).as("aspect"), col("total_pixels"))
        .orderBy("doc_id"),
    Sql(
      """WITH m AS (SELECT doc_id,
           ['image','video','audio'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
           octet_length(CAST(text AS BLOB)) AS n FROM documents),
         d AS (SELECT doc_id, media_type,
           CASE media_type WHEN 'image' THEN 256 + n % 256 WHEN 'video' THEN 640 ELSE 0 END AS w,
           CASE media_type WHEN 'image' THEN 256 + (n * 31) % 256 WHEN 'video' THEN 360 ELSE 0 END AS h,
           CASE media_type WHEN 'image' THEN 1 WHEN 'video' THEN 1 + n % 300 ELSE 1 + n // 64 END AS f
           FROM m)
         SELECT doc_id, media_type,
           round(CASE WHEN h > 0 THEN CAST(w AS DOUBLE) / h ELSE 0.0 END, 6) AS aspect,
           CAST(w AS BIGINT) * h * f AS total_pixels
         FROM d ORDER BY doc_id""")),

    // multimodal: resize planning (fit 224x224, aspect-preserving)
    Query("mm_resize_plan", (s, dir) =>
      Multimodal.resizePlan(
        Multimodal.decodeMeta(Multimodal.asMediaTable(table(s, dir, "documents"))),
        224, 224)
        .orderBy("doc_id"),
    Sql(
      """WITH m AS (SELECT doc_id,
           ['image','video','audio'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
           octet_length(CAST(text AS BLOB)) AS n FROM documents),
         d AS (SELECT doc_id, media_type,
           CASE media_type WHEN 'image' THEN 256 + n % 256 WHEN 'video' THEN 640 ELSE 0 END AS w,
           CASE media_type WHEN 'image' THEN 256 + (n * 31) % 256 WHEN 'video' THEN 360 ELSE 0 END AS h
           FROM m WHERE media_type IN ('image','video')),
         s AS (SELECT *, least(224.0 / w, 224.0 / h, 1.0) AS sc FROM d WHERE w > 0 AND h > 0)
         SELECT doc_id, media_type, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(floor(w * sc) AS INT) AS out_w, CAST(floor(h * sc) AS INT) AS out_h
         FROM s ORDER BY doc_id""")),

    // multimodal: perceptual-hash near-dup pairs over the BINARY media
    // column — one payload pass to 8-byte fingerprints, then the exact
    // multi-index hamming blocking (MultimodalSpec proves blocked ==
    // brute force; rows-only — the kernel is engine-local). The
    // corpus' text near-dups are NOT media near-dups (word edits shift
    // every downstream byte), so the fixture plants what media dedup
    // actually hunts: a "re-encode" of every 10th doc — same payload
    // with one 8-byte run replaced by bytes copied from elsewhere in
    // the SAME payload. The copy shifts the global byte sum only by
    // the difference of two 8-byte text runs — negligible against the
    // payload total, so near-tie blocks stay put (measured 48/50 at
    // hamming ≤ 3); a constant 0x7f overwrite shifts the mean enough
    // to flip near-tie bits across these narrow-range text payloads
    Query("media_phash_pairs", (s, dir) => {
      val media = Multimodal.asMediaTable(table(s, dir, "documents"))
      val reenc = reencodedMedia(media)
      Multimodal.phashPairs(media.unionByName(reenc),
        col("doc_id"), col("media"), maxHamming = 3,
        materialize = eagerPairs)
    }, RowsOnly("graft.ops.MultimodalSpec")),

    // multimodal: INCREMENTAL phash dedup — fingerprint index built
    // once over the original media (memoized write-once job, 16 B/doc),
    // the re-encode increment fingerprints and joins against the store
    // with no payload rescan (rows-only; indexed==inline proven in
    // MultimodalSpec)
    Query("media_phash_indexed", (s, dir) => {
      val media = Multimodal.asMediaTable(table(s, dir, "documents"))
      val store = memoStore("phash", dir)(p =>
        Multimodal.buildPhashIndex(media, col("doc_id"), col("media"), p))
      val reenc = reencodedMedia(media)
      Multimodal.phashAgainstIndex(s, store, reenc, col("doc_id"),
        col("media"), maxHamming = 3, materialize = eagerPairs)
    }, RowsOnly("graft.ops.MultimodalSpec")),

    Query("mm_decode_real", (s, dir) => {
      val mk = udf((id: Long, txt: String) =>
        Multimodal.syntheticContainer(id, txt))
      val media = table(s, dir, "documents")
        .select(col("doc_id"), lit("image").as("media_type"),
          mk(col("doc_id"), col("text")).as("media"))
      Multimodal.decodeMetaAuto(media)
        .select(col("doc_id"), col("format"), col("byte_len"), col("width"),
          col("height"), col("channels"), col("n_frames"),
          col("decoded").cast(IntegerType).as("decoded"))
        .orderBy("doc_id")
    }, Sql(
      """WITH m AS (SELECT doc_id, doc_id % 8 AS k,
           1 + doc_id % 37 AS w, 1 + doc_id % 23 AS h,
           octet_length(CAST(text AS BLOB)) AS n FROM documents)
         SELECT doc_id,
           CASE WHEN k = 0 THEN 'unknown' WHEN k <= 2 THEN 'bmp'
                WHEN k = 3 THEN 'ppm' WHEN k = 4 THEN 'pgm'
                WHEN k = 5 THEN 'webp' WHEN k = 6 THEN 'webp-l'
                ELSE 'webp-anim' END AS format,
           CAST(CASE WHEN k = 0 THEN n
                WHEN k <= 2 THEN 54 + h * ((3 * w + 3) // 4 * 4)
                WHEN k = 3 THEN octet_length(CAST('P6' || chr(10)
                  || CAST(w AS VARCHAR) || ' ' || CAST(h AS VARCHAR)
                  || chr(10) || '255' || chr(10) AS BLOB)) + 3 * w * h
                WHEN k = 4 THEN octet_length(CAST('P5' || chr(10)
                  || CAST(w AS VARCHAR) || ' ' || CAST(h AS VARCHAR)
                  || chr(10) || '255' || chr(10) AS BLOB)) + w * h
                WHEN k = 5 THEN 2048 + 128 * (doc_id % 3)
                WHEN k = 6 THEN 1024 + 64 * (doc_id % 5)
                ELSE 4096 + 128 * (doc_id % 3) END AS BIGINT) AS byte_len,
           CAST(CASE WHEN k = 0 THEN 256 + n % 256
                WHEN k = 5 THEN 16 * (1 + doc_id % 3) + 5
                WHEN k = 6 THEN 4 + doc_id % 9
                WHEN k = 7 THEN 40 ELSE w END AS INT) AS width,
           CAST(CASE WHEN k = 0 THEN 256 + (n * 31) % 256
                WHEN k = 5 THEN 16 * (1 + (doc_id // 8) % 2) + 3
                WHEN k = 6 THEN 3 + doc_id % 7
                WHEN k = 7 THEN 40 ELSE h END AS INT) AS height,
           CAST(CASE WHEN k = 4 THEN 1 WHEN k = 6 THEN 4
                ELSE 3 END AS INT) AS channels,
           CAST(CASE WHEN k = 7 THEN 2 + doc_id % 3
                ELSE 1 END AS INT) AS n_frames,
           CAST(CASE WHEN k = 0 THEN 0 ELSE 1 END AS INT) AS decoded
         FROM m ORDER BY doc_id""")),

    // multimodal REAL pixel decode: luma-plane sums of the decodable
    // containers — the oracle recomputes BT.601 integer luma of the
    // closed-form pixel pattern per (x, y) and sums it, so a stride,
    // padding, bottom-up, or channel-order mistake in the BMP/PPM/PGM
    // pixel walk shifts the sum and fails the hash; the id%8 cycle's
    // WebP branches (flat-MB VP8, closed-form VP8L, anim poster
    // frame) run the RFC 6386 / VP8L decoders inside the SAME ledger
    // corpus. This is the end-to-end pixel path the phash kernel
    // consumes via decodeGrayStage
    Query("mm_gray_stats", (s, dir) => {
      val mk = udf((id: Long, txt: String) =>
        Multimodal.syntheticContainer(id, txt))
      val byteSum = udf((b: Array[Byte]) => {
        var s = 0L; var i = 0
        while (i < b.length) { s += (b(i) & 0xff); i += 1 }; s
      })
      val media = table(s, dir, "documents")
        .select(col("doc_id"), mk(col("doc_id"), col("text")).as("media"))
      Multimodal.decodeGrayStage(media)
        .filter(col("decoded"))
        .select(col("doc_id"), col("width"), col("height"),
          byteSum(col("gray")).as("sum_luma"))
        .orderBy("doc_id")
    }, Sql(
      """WITH m AS (SELECT doc_id, doc_id % 8 AS k,
           CASE WHEN doc_id % 8 = 5 THEN 16 * (1 + doc_id % 3) + 5
                WHEN doc_id % 8 = 6 THEN 4 + doc_id % 9
                WHEN doc_id % 8 = 7 THEN 40
                ELSE 1 + doc_id % 37 END AS w,
           CASE WHEN doc_id % 8 = 5 THEN 16 * (1 + (doc_id // 8) % 2) + 3
                WHEN doc_id % 8 = 6 THEN 3 + doc_id % 7
                WHEN doc_id % 8 = 7 THEN 40
                ELSE 1 + doc_id % 23 END AS h
           FROM documents WHERE doc_id % 8 <> 0),
         gx AS (SELECT doc_id, k, w, h,
           unnest(generate_series(0, w - 1)) AS x FROM m),
         gxy AS (SELECT doc_id, k, w, h, x,
           unnest(generate_series(0, h - 1)) AS y FROM gx),
         lum AS (SELECT doc_id, w, h,
           CASE WHEN k = 4 THEN (x * 31 + y * 17 + doc_id) % 256
                WHEN k = 5 THEN
                  (doc_id * 7 + 11 * (x // 16) + 17 * (y // 16)) % 256
                WHEN k = 6 THEN (299 * ((doc_id + 3 * x + 7 * y) % 256)
                    + 587 * ((2 * doc_id + 5 * x + y) % 256)
                    + 114 * ((3 * doc_id + x + 11 * y) % 256)) // 1000
                WHEN k = 7 THEN CASE WHEN x < 16 AND y < 16
                    THEN (doc_id * 3) % 256 ELSE 0 END
                ELSE (299 * ((x * 31 + y * 17 + doc_id) % 256)
                    + 587 * (((x * 31 + y * 17 + doc_id) % 256 + 85) % 256)
                    + 114 * (((x * 31 + y * 17 + doc_id) % 256 + 170) % 256))
                    // 1000
           END AS l FROM gxy)
         SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(sum(l) AS BIGINT) AS sum_luma
         FROM lum GROUP BY 1, 2, 3 ORDER BY doc_id""")),

    // BMP depth envelope end-to-end (BI_RGB 8-bit palette through the
    // gray-ramp BGRA quads, 24-bit BGR, 32-bit BGRA with the alpha
    // byte ignored): the oracle recomputes BT.601 luma closed-form
    // per depth, so a palette-offset, quad-order, row-alignment, or
    // 32-bit-stride mistake shifts sum_luma and fails the hash
    Query("mm_bmp_variants", (s, dir) => {
      val mk = udf((id: Long, txt: String) =>
        Multimodal.syntheticBmpVariant(id, txt))
      val byteSum = udf((b: Array[Byte]) => {
        var t = 0L; var i = 0
        while (i < b.length) { t += (b(i) & 0xff); i += 1 }; t
      })
      val media = table(s, dir, "documents")
        .select(col("doc_id"), mk(col("doc_id"), col("text")).as("media"))
      Multimodal.decodeGrayStage(media)
        .filter(col("decoded"))
        .select(col("doc_id"), col("width"), col("height"),
          byteSum(col("gray")).as("sum_luma"))
        .orderBy("doc_id")
    }, Sql(
      """WITH m AS (SELECT doc_id, doc_id % 4 AS k,
           3 + doc_id % 14 AS w, 2 + doc_id % 11 AS h
           FROM documents WHERE doc_id % 4 <> 0),
         gx AS (SELECT doc_id, k, w, h,
           unnest(generate_series(0, w - 1)) AS x FROM m),
         gxy AS (SELECT doc_id, k, w, h, x,
           unnest(generate_series(0, h - 1)) AS y FROM gx),
         lum AS (SELECT doc_id, w, h,
           CASE WHEN k = 1 THEN (doc_id + 5 * x + 9 * y) % 256
                WHEN k = 2 THEN
                  (299 * ((doc_id + 7 * x + 3 * y) % 256)
                 + 587 * (((doc_id + 7 * x + 3 * y) % 256 + 51) % 256)
                 + 114 * (((doc_id + 7 * x + 3 * y) % 256 + 102) % 256)) // 1000
                ELSE
                  (299 * ((doc_id * 3 + 2 * x + 11 * y) % 256)
                 + 587 * (((doc_id * 3 + 2 * x + 11 * y) % 256 + 33) % 256)
                 + 114 * (((doc_id * 3 + 2 * x + 11 * y) % 256 + 77) % 256)) // 1000
           END AS l FROM gxy)
         SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(sum(l) AS BIGINT) AS sum_luma
         FROM lum GROUP BY 1, 2, 3 ORDER BY doc_id""")),

    // palette-PNG pixel path end-to-end: indices expand through the
    // PLTE and the oracle recomputes every luma closed-form (ramp
    // palette v=16i makes BT.601 luma exactly the palette value) —
    // a wrong palette lookup, index byte, or filter pass shifts the
    // sum and fails the hash
    Query("mm_palette_real", (s, dir) => {
      val mk = udf((id: Long) => Multimodal.syntheticPalettePng(id))
      val byteSum = udf((b: Array[Byte]) => {
        var t = 0L; var i = 0
        while (i < b.length) { t += (b(i) & 0xff); i += 1 }; t
      })
      val media = table(s, dir, "documents")
        .select(col("doc_id"), mk(col("doc_id")).as("media"))
      Multimodal.decodeGrayStage(media)
        .filter(col("decoded"))
        .select(col("doc_id"), col("width"), col("height"),
          byteSum(col("gray")).as("sum_luma"))
        .orderBy("doc_id")
    }, Sql(
      """WITH px AS (SELECT doc_id, gx.x, gy.y FROM documents,
           generate_series(0, 7) AS gx(x), generate_series(0, 5) AS gy(y)),
         l AS (SELECT doc_id, 16 * ((doc_id + x + y) % 16) AS v FROM px)
         SELECT doc_id, 8 AS width, 6 AS height,
           CAST(sum(v) AS BIGINT) AS sum_luma
         FROM l GROUP BY 1 ORDER BY doc_id""")),

    // multimodal: frame sampling plan for video rows
    Query("mm_frame_sample", (s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.decodeMeta(Multimodal.asMediaTable(table(s, dir, "documents"))), 10)
        .select(col("doc_id"), col("n_frames"),
          col("frame_idx").cast(LongType).as("frame_idx"))
        .orderBy("doc_id", "frame_idx"),
    Sql(
      """WITH m AS (SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n
           FROM documents WHERE doc_id % 3 = 1)
         SELECT doc_id, CAST(1 + n % 300 AS INT) AS n_frames,
           unnest(generate_series(0, n % 300, 10)) AS frame_idx
         FROM m ORDER BY 1, 3""")),

    // AUDIO real decode: payloads are real RIFF/WAVE PCM containers
    // built in closed form over doc_id (Multimodal.syntheticWav — 1-2
    // channels, 3 sample rates, 4 clip lengths, 16-bit samples), parsed
    // back by the pure-JVM chunk walker (Codecs.decodeWavHeader). The
    // oracle recomputes every header field and the exact container byte
    // length without seeing the bytes — a fmt-chunk, block-align, or
    // data-length mistake fails the hash. Every 7th doc is raw text
    // exercising the undecodable fallback (excluded here, counted by
    // the decoded filter matching the oracle's doc_id % 7 <> 0).
    Query("audio_decode_real", (s, dir) => {
      val mk = udf((id: Long, txt: String) => Multimodal.syntheticWav(id, txt))
      val media = table(s, dir, "documents")
        .select(col("doc_id"), mk(col("doc_id"), col("text")).as("media"))
      Multimodal.decodeAudioMeta(media)
        .filter(col("decoded"))
        .select(col("doc_id"), col("format"), col("sample_rate"),
          col("channels"), col("bits"), col("n_samples"), col("byte_len"))
        .orderBy("doc_id")
    }, Sql(
      """WITH d AS (SELECT doc_id, 1 + doc_id % 2 AS ch,
           8000 * (1 + doc_id % 3) AS sr, 512 + (doc_id % 4) * 256 AS n
           FROM documents WHERE doc_id % 7 <> 0)
         SELECT doc_id, 'wav' AS format, CAST(sr AS INT) AS sample_rate,
           CAST(ch AS INT) AS channels, CAST(16 AS INT) AS bits,
           CAST(n AS INT) AS n_samples,
           CAST(44 + 2 * ch * n AS BIGINT) AS byte_len
         FROM d ORDER BY doc_id""")),

    // AUDIO windowed features over REAL decoded PCM: the decode stage
    // de-interleaves actual 16-bit LE frames to the integer channel-sum
    // mixdown (exact — no division), then per-256-sample window energy
    // / peak / zero-crossings as higher-order-function column math (no
    // shuffle before the final grid). The oracle regenerates the PCM
    // closed form and recomputes all three features per window — a
    // sign-extension, interleave, or window-boundary mistake fails.
    Query("audio_features_real", (s, dir) => {
      val mk = udf((id: Long, txt: String) => Multimodal.syntheticWav(id, txt))
      val media = table(s, dir, "documents")
        .select(col("doc_id"), mk(col("doc_id"), col("text")).as("media"))
      Multimodal.audioWindowFeatures(
        Multimodal.decodeAudioMixStage(media), 256)
        .orderBy("doc_id", "win")
    }, Sql(
      """WITH d AS (SELECT doc_id, 1 + doc_id % 2 AS ch,
           512 + (doc_id % 4) * 256 AS n
           FROM documents WHERE doc_id % 7 <> 0),
         s AS (SELECT d.doc_id, i,
             ((d.doc_id * 131 + i * 71) % 65536) - 32768
             + CASE WHEN d.ch = 2
                 THEN ((d.doc_id * 131 + i * 71 + 53) % 65536) - 32768
                 ELSE 0 END AS v
           FROM d, unnest(generate_series(0, d.n - 1)) AS t(i)),
         w AS (SELECT doc_id, i, i // 256 AS win, v,
             lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
           FROM s)
         SELECT doc_id, CAST(win AS BIGINT) AS win,
           CAST(sum(v * v) AS BIGINT) AS sum_sq,
           CAST(max(abs(v)) AS BIGINT) AS peak,
           CAST(sum(CASE WHEN i % 256 <> 0 AND ((pv < 0) <> (v < 0))
             THEN 1 ELSE 0 END) AS BIGINT) AS zc
         FROM w GROUP BY doc_id, win ORDER BY doc_id, win""")),

    // AUDIO fingerprint dedup over REAL decoded PCM: 63-bit
    // energy-delta sign profiles (Haitsma-Kalker shape) through the
    // exact multi-index hamming funnel. Planted near-dups are
    // CHANNEL-SWAPPED re-encodes of the stereo clips - byte-different
    // payloads with identical channel-sum mixdowns, the transform
    // byte hashing cannot see. FULLY oracled: DuckDB regenerates the
    // PCM closed form, recomputes window energies, delta bits, packed
    // fingerprints, and brute-force hamming pairs - the engine's
    // banded funnel must land on the identical pair list.
    Query("audio_dedup_pairs", (s, dir) => {
      val mk = udf((id: Long, txt: String) => Multimodal.syntheticWav(id, txt))
      val mkSwap = udf((id: Long) => Multimodal.syntheticWavSwapped(id))
      val docs = table(s, dir, "documents")
      val media = docs
        .select(col("doc_id"), mk(col("doc_id"), col("text")).as("media"))
      val swapped = docs
        .filter(pmod(col("doc_id"), lit(10)) === 1 &&
          pmod(col("doc_id"), lit(7)) =!= 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          mkSwap(col("doc_id")).as("media"))
      Multimodal.audioFingerprintPairs(media.unionByName(swapped),
        maxHamming = 3, materialize = eagerPairs)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast(IntegerType).as("hamming"))
        .orderBy("id_a", "id_b")
    }, Sql(
      """WITH d AS (SELECT doc_id, 1 + doc_id % 2 AS ch,
           512 + (doc_id % 4) * 256 AS n
           FROM documents WHERE doc_id % 7 <> 0),
         dd AS (SELECT doc_id, doc_id AS base, ch, n FROM d
                UNION ALL
                SELECT doc_id + 1000000, doc_id, ch, n FROM d
                WHERE doc_id % 10 = 1),
         s AS (SELECT dd.doc_id, (i * 64) // dd.n AS win,
             CAST(((dd.base * 131 + i * 71) % 65536) - 32768 AS BIGINT)
             + CASE WHEN dd.ch = 2
                 THEN ((dd.base * 131 + i * 71 + 53) % 65536) - 32768
                 ELSE 0 END AS v
           FROM dd, unnest(generate_series(0, dd.n - 1)) AS t(i)),
         e AS (SELECT doc_id, win, sum(v * v) AS e
           FROM s GROUP BY 1, 2),
         bt AS (SELECT doc_id, win,
             CASE WHEN e >= lag(e) OVER (PARTITION BY doc_id ORDER BY win)
               THEN 1 ELSE 0 END AS bit
           FROM e),
         fp AS (SELECT doc_id,
             CAST(sum(CASE WHEN win >= 1 AND bit = 1
               THEN (1::BIGINT << (win - 1)) ELSE 0 END) AS BIGINT) AS fp
           FROM bt GROUP BY 1)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
         FROM fp a, fp b
         WHERE a.doc_id < b.doc_id AND bit_count(xor(a.fp, b.fp)) <= 3
         ORDER BY 1, 2""")),

    // INCREMENTAL audio dedup: fingerprint index built once over the
    // original clips (memoized write-once job, 16 B/doc); the
    // channel-swapped increment decodes only its own payloads and
    // joins the store - no payload rescan. Oracled as the >= 1 side
    // new restriction of the brute-force pair list.
    Query("audio_dedup_indexed", (s, dir) => {
      val mk = udf((id: Long, txt: String) => Multimodal.syntheticWav(id, txt))
      val mkSwap = udf((id: Long) => Multimodal.syntheticWavSwapped(id))
      val docs = table(s, dir, "documents")
      val media = docs
        .select(col("doc_id"), mk(col("doc_id"), col("text")).as("media"))
      val store = memoStore("audiofp", dir)(p =>
        Multimodal.buildAudioFpIndex(media, p))
      val swapped = docs
        .filter(pmod(col("doc_id"), lit(10)) === 1 &&
          pmod(col("doc_id"), lit(7)) =!= 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          mkSwap(col("doc_id")).as("media"))
      Multimodal.audioFpAgainstIndex(s, store, swapped, maxHamming = 3,
        materialize = eagerPairs)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast(IntegerType).as("hamming"))
        .orderBy("id_a", "id_b")
    }, Sql(
      """WITH d AS (SELECT doc_id, 1 + doc_id % 2 AS ch,
           512 + (doc_id % 4) * 256 AS n
           FROM documents WHERE doc_id % 7 <> 0),
         dd AS (SELECT doc_id, doc_id AS base, ch, n FROM d
                UNION ALL
                SELECT doc_id + 1000000, doc_id, ch, n FROM d
                WHERE doc_id % 10 = 1),
         s AS (SELECT dd.doc_id, (i * 64) // dd.n AS win,
             CAST(((dd.base * 131 + i * 71) % 65536) - 32768 AS BIGINT)
             + CASE WHEN dd.ch = 2
                 THEN ((dd.base * 131 + i * 71 + 53) % 65536) - 32768
                 ELSE 0 END AS v
           FROM dd, unnest(generate_series(0, dd.n - 1)) AS t(i)),
         e AS (SELECT doc_id, win, sum(v * v) AS e
           FROM s GROUP BY 1, 2),
         bt AS (SELECT doc_id, win,
             CASE WHEN e >= lag(e) OVER (PARTITION BY doc_id ORDER BY win)
               THEN 1 ELSE 0 END AS bit
           FROM e),
         fp AS (SELECT doc_id,
             CAST(sum(CASE WHEN win >= 1 AND bit = 1
               THEN (1::BIGINT << (win - 1)) ELSE 0 END) AS BIGINT) AS fp
           FROM bt GROUP BY 1)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
         FROM fp a, fp b
         WHERE a.doc_id < b.doc_id AND bit_count(xor(a.fp, b.fp)) <= 3
           AND b.doc_id >= 1000000
         ORDER BY 1, 2""")),

    // G.711 COMPRESSED audio decode (format tags 6/7): payloads are
    // real RIFF containers whose 8-bit code stream is the closed-form
    // fixture contract; the engine expands each code through the CCITT
    // µ-law/A-law arithmetic (Codecs.mulawDecode/alawDecode) into the
    // channel-sum mixdown. The oracle restates the code stream AND the
    // expand (complement/XOR-0x55, segment shift, re-bias) in SQL —
    // a sign, segment, or bias mistake shifts every aggregate
    Query("audio_g711_real", (s, dir) => {
      val mk = udf((id: Long, txt: String) => Multimodal.syntheticG711(id, txt))
      val media = table(s, dir, "documents")
        .select(col("doc_id"), mk(col("doc_id"), col("text")).as("media"))
      Multimodal.decodeAudioMixStage(media)
        .select(col("doc_id"), col("sample_rate"), col("channels"),
          size(col("mix")).as("n_samples"),
          aggregate(col("mix"), lit(0L), (acc, x) => acc + x).as("mix_sum"),
          array_min(col("mix")).as("mix_min"),
          array_max(col("mix")).as("mix_max"))
        .orderBy("doc_id")
    }, Sql(
      // G.711: restate the closed-form code stream, then the CCITT
      // expand — µ-law: u = 255-code, t = ((u%16)*8+132) << ((u//16)%8),
      // sign off bit 7; A-law: a = code XOR 0x55, segment 0 linear else
      // ((a%16)*16+264) << (seg-1) — and re-aggregate the channel-sum
      // mixdown. Any sign/segment/bias slip shifts every aggregate.
      """WITH d AS (SELECT doc_id, 1 + doc_id % 2 AS ch,
           256 + (doc_id % 4) * 128 AS n,
           ((doc_id // 2) % 2 = 0) AS alaw
           FROM documents WHERE doc_id % 7 <> 0),
         cf AS (SELECT d.doc_id, d.alaw, d.n, i, c,
           (d.doc_id * 37 + i * 11 + c * 5) % 256 AS code
           FROM d, unnest(generate_series(0, d.n - 1)) AS ti(i),
                unnest(generate_series(0, d.ch - 1)) AS tc(c)),
         dec AS (SELECT doc_id, n, i,
           CASE WHEN alaw THEN
             (CASE WHEN xor(code, 85) >= 128 THEN 1 ELSE -1 END) *
             (CASE WHEN ((xor(code, 85) // 16) % 8) = 0
               THEN (xor(code, 85) % 16) * 16 + 8
               ELSE ((xor(code, 85) % 16) * 16 + 264)
                    * (1 << (((xor(code, 85) // 16) % 8) - 1)) END)
           ELSE
             CASE WHEN (255 - code) >= 128
               THEN 132 - ((((255 - code) % 16) * 8 + 132)
                           * (1 << (((255 - code) // 16) % 8)))
               ELSE ((((255 - code) % 16) * 8 + 132)
                     * (1 << (((255 - code) // 16) % 8))) - 132
             END
           END AS v
           FROM cf),
         mix AS (SELECT doc_id, n, i, sum(v) AS m FROM dec GROUP BY 1, 2, 3)
         SELECT doc_id, CAST(8000 AS INT) AS sample_rate,
           CAST(1 + doc_id % 2 AS INT) AS channels,
           CAST(n AS INT) AS n_samples,
           CAST(sum(m) AS BIGINT) AS mix_sum,
           CAST(min(m) AS INT) AS mix_min,
           CAST(max(m) AS INT) AS mix_max
         FROM mix GROUP BY 1, 2, 3, 4 ORDER BY doc_id""")),

    // IMA ADPCM audio decode (format tag 0x11): real block-structured
    // containers — per-block header predictor + step index, then the
    // 4-bit nibble stream — decoded through the bit-exact predictor
    // recurrence (step>>3 + conditional halves, ±, clamp, index
    // advance). All block contents are closed-form, so the oracle
    // replays the SAME recurrence as a recursive CTE over (doc,
    // block, nibble); mix_last pins the final state — any mid-stream
    // divergence propagates to it and to mix_sum
    Query("audio_adpcm_real", (s, dir) => {
      val mk = udf((id: Long, txt: String) => Multimodal.syntheticAdpcm(id, txt))
      val media = table(s, dir, "documents")
        .select(col("doc_id"), mk(col("doc_id"), col("text")).as("media"))
      Multimodal.decodeAudioMixStage(media)
        .select(col("doc_id"), col("sample_rate"), col("channels"),
          size(col("mix")).as("n_samples"),
          aggregate(col("mix"), lit(0L), (acc, x) => acc + x).as("mix_sum"),
          array_min(col("mix")).as("mix_min"),
          array_max(col("mix")).as("mix_max"),
          element_at(col("mix"), size(col("mix"))).as("mix_last"))
        .orderBy("doc_id")
    }, Sql(
      // IMA ADPCM: replay the bit-exact predictor recurrence as a
      // recursive CTE over (doc, block, nibble) — state j=-1 is the
      // block-header predictor (sample 0), each step consumes nibble
      // j+1 via diff = step//8 + nib2*step + nib1*step//2 + nib0*step//4,
      // ± by bit 3, clamp to int16, index-advance clamp to [0,88].
      ("""WITH RECURSIVE d AS (SELECT doc_id, 1 + doc_id % 2 AS blocks
           FROM documents WHERE doc_id % 7 <> 0),
         blk AS (SELECT doc_id, blocks, b
           FROM d, unnest(generate_series(0, d.blocks - 1)) AS t(b)),
         steps AS (SELECT unnest(generate_series(0, 88)) AS i,
           unnest([""" + graft.ops.Codecs.imaStepTable.mkString(",") +
        """]) AS s),
         nb AS (SELECT blk.doc_id, blk.b, j,
             (blk.doc_id * 13 + blk.b * 29 + j * 7) % 16 AS nib
           FROM blk, unnest(generate_series(0, 63)) AS t(j)),
         st AS (
           SELECT doc_id, blocks, b, -1 AS j,
             CAST((doc_id * 97 + b * 41) % 4096 - 2048 AS BIGINT) AS pred,
             CAST((doc_id * 31 + b * 17) % 89 AS BIGINT) AS idx
           FROM blk
           UNION ALL
           SELECT s.doc_id, s.blocks, s.b, s.j + 1,
             least(greatest(s.pred
               + (CASE WHEN nb.nib >= 8 THEN -1 ELSE 1 END)
                 * (t.s // 8
                    + CASE WHEN (nb.nib % 8) >= 4 THEN t.s ELSE 0 END
                    + CASE WHEN (nb.nib % 4) >= 2 THEN t.s // 2 ELSE 0 END
                    + CASE WHEN (nb.nib % 2) = 1 THEN t.s // 4 ELSE 0 END),
               -32768), 32767),
             least(greatest(s.idx
               + CASE WHEN (nb.nib % 8) < 4 THEN -1
                      ELSE 2 * ((nb.nib % 8) - 3) END, 0), 88)
           FROM st s
           JOIN steps t ON t.i = s.idx
           JOIN nb ON nb.doc_id = s.doc_id AND nb.b = s.b AND nb.j = s.j + 1
           WHERE s.j < 63
         )
         SELECT doc_id, CAST(8000 AS INT) AS sample_rate,
           CAST(1 AS INT) AS channels,
           CAST(blocks * 65 AS INT) AS n_samples,
           CAST(sum(pred) AS BIGINT) AS mix_sum,
           CAST(min(pred) AS INT) AS mix_min,
           CAST(max(pred) AS INT) AS mix_max,
           CAST(max(CASE WHEN b = blocks - 1 AND j = 63 THEN pred END)
             AS INT) AS mix_last
         FROM st GROUP BY 1, 2, 3, 4 ORDER BY doc_id"""))),

    // VIDEO real decode: payloads are real YUV4MPEG2 streams built in
    // closed form (Multimodal.syntheticY4m — C420 planes, 2-5 frames),
    // parsed by the pure-JVM tag walker that verifies every FRAME
    // marker (Codecs.decodeY4mHeader). Oracle recomputes dimensions,
    // fps, frame count, and total byte length incl. the ASCII header's
    // variable width.
    Query("video_decode_real", (s, dir) => {
      val mk = udf((id: Long, txt: String) => Multimodal.syntheticY4m(id, txt))
      val media = table(s, dir, "documents")
        .select(col("doc_id"), mk(col("doc_id"), col("text")).as("media"))
      Multimodal.decodeVideoMeta(media)
        .filter(col("decoded"))
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("fps_num"), col("fps_den"), col("n_frames"), col("byte_len"))
        .orderBy("doc_id")
    }, Sql(
      """WITH d AS (SELECT doc_id, 8 + 2 * (doc_id % 5) AS w,
           6 + 2 * (doc_id % 3) AS h, 2 + doc_id % 4 AS fr
           FROM documents WHERE doc_id % 7 <> 0)
         SELECT doc_id, 'y4m' AS format, CAST(w AS INT) AS width,
           CAST(h AS INT) AS height, CAST(25 AS INT) AS fps_num,
           CAST(1 AS INT) AS fps_den, CAST(fr AS INT) AS n_frames,
           CAST(length('YUV4MPEG2 W' || w || ' H' || h
             || ' F25:1 Ip A1:1 C420jpeg') + 1
             + fr * (6 + w * h + 2 * ((w // 2) * (h // 2))) AS BIGINT)
             AS byte_len
         FROM d ORDER BY doc_id""")),

    // VIDEO real frame sampling: every 2nd frame's ACTUAL luma plane
    // out of the container, summed — the oracle recomputes the Y-plane
    // closed form per (frame, x, y), so a plane-stride, chroma-skip, or
    // frame-offset mistake shifts the sum and fails the hash. This is
    // the real-bytes twin of the planning-only mm_frame_sample.
    Query("video_frame_luma", (s, dir) => {
      val mk = udf((id: Long, txt: String) => Multimodal.syntheticY4m(id, txt))
      val byteSum = udf((b: Array[Byte]) => {
        var t = 0L; var i = 0
        while (i < b.length) { t += (b(i) & 0xff); i += 1 }; t
      })
      val media = table(s, dir, "documents")
        .select(col("doc_id"), mk(col("doc_id"), col("text")).as("media"))
      Multimodal.sampleFrameLuma(media, 2)
        .select(col("doc_id"), col("frame_idx"), byteSum(col("gray")).as("sum_y"))
        .orderBy("doc_id", "frame_idx")
    }, Sql(
      """WITH d AS (SELECT doc_id, 8 + 2 * (doc_id % 5) AS w,
           6 + 2 * (doc_id % 3) AS h, 2 + doc_id % 4 AS fr
           FROM documents WHERE doc_id % 7 <> 0),
         f AS (SELECT d.doc_id, d.w, d.h, fi
           FROM d, unnest(generate_series(0, d.fr - 1, 2)) AS t(fi)),
         p AS (SELECT f.doc_id, f.fi,
             (f.doc_id + 11 * f.fi + 3 * x + 5 * y) % 256 AS yv
           FROM f, unnest(generate_series(0, f.w - 1)) AS tx(x),
             unnest(generate_series(0, f.h - 1)) AS ty(y))
         SELECT doc_id, CAST(fi AS INT) AS frame_idx,
           CAST(sum(yv) AS BIGINT) AS sum_y
         FROM p GROUP BY 1, 2 ORDER BY 1, 2""")),

    // REAL GIF decode: literal-LZW GIF89a fixtures through the full
    // LZW decompressor (variable-width codes, CLEAR handling,
    // sub-block framing) and the grayscale palette lookup - the
    // oracle recomputes pixel sums from the closed form, so a bit-
    // unpacking, dictionary, palette, or framing mistake fails the
    // hash on real container bytes.
    Query("mm_gif_real", (s, dir) => {
      val mk = udf((id: Long, txt: String) =>
        Multimodal.syntheticGif(id, txt))
      val byteSum = udf((b: Array[Byte]) => {
        var t = 0L; var i = 0
        while (i < b.length) { t += (b(i) & 0xff); i += 1 }; t
      })
      val media = table(s, dir, "documents")
        .select(col("doc_id"), mk(col("doc_id"), col("text")).as("media"))
      Multimodal.decodeGrayStage(media)
        .filter(col("decoded"))
        .select(col("doc_id"), col("width"), col("height"),
          byteSum(col("gray")).as("sum_luma"))
        .orderBy("doc_id")
    }, Sql(
      """WITH m AS (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h
           FROM documents WHERE doc_id % 5 <> 0),
         gx AS (SELECT doc_id, w, h,
           unnest(generate_series(0, w - 1)) AS x FROM m),
         gxy AS (SELECT doc_id, w, h, x,
           unnest(generate_series(0, h - 1)) AS y FROM gx)
         SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(sum((doc_id + 3 * x + 5 * y) % 256) AS BIGINT) AS sum_luma
         FROM gxy GROUP BY 1, 2, 3 ORDER BY doc_id""")),

    // REAL JPEG decode: payloads are baseline grayscale JPEGs (pure-JVM
    // graft.ops.Jpeg — Annex-K Huffman tables, byte stuffing, marker
    // walk, dequantize + IDCT) of flat 8x8 blocks in closed form, so
    // the oracle recomputes decoded pixel sums with no DCT in SQL
    // while the engine runs the full baseline path on real bytes. A
    // Huffman, DC-prediction, stuffing, dequant, or IDCT mistake
    // shifts the sums and fails the hash.
    Query("mm_jpeg_real", (s, dir) => {
      val mk = udf((id: Long, txt: String) =>
        Multimodal.syntheticJpeg(id, txt))
      val byteSum = udf((b: Array[Byte]) => {
        var t = 0L; var i = 0
        while (i < b.length) { t += (b(i) & 0xff); i += 1 }; t
      })
      val media = table(s, dir, "documents")
        .select(col("doc_id"), mk(col("doc_id"), col("text")).as("media"))
      Multimodal.decodeGrayStage(media)
        .filter(col("decoded"))
        .select(col("doc_id"), col("width"), col("height"),
          byteSum(col("gray")).as("sum_luma"))
        .orderBy("doc_id")
    }, Sql(
      """WITH m AS (SELECT doc_id, 1 + doc_id % 4 AS bw, 1 + doc_id % 3 AS bh
           FROM documents WHERE doc_id % 5 <> 0),
         gx AS (SELECT doc_id, bw, bh,
           unnest(generate_series(0, bw - 1)) AS bx FROM m),
         gxy AS (SELECT doc_id, bw, bh, bx,
           unnest(generate_series(0, bh - 1)) AS byy FROM gx)
         SELECT doc_id, CAST(8 * bw AS INT) AS width,
           CAST(8 * bh AS INT) AS height,
           CAST(sum(64 * ((doc_id + 7 * bx + 13 * byy) % 256)) AS BIGINT)
             AS sum_luma
         FROM gxy GROUP BY 1, 2, 3 ORDER BY doc_id""")),

    // PNG Adam7-interlace + 16-bit decode end-to-end: interlaced
    // containers scatter seven filter-passes back onto odd-dimension
    // grids; 16-bit containers filter at the 2-byte sample stride and
    // project the high byte. Pixels are closed-form, so the oracle
    // recomputes luma sums directly — a pass-geometry, stride, or
    // byte-order mistake shifts sum_luma and fails the hash.
    Query("mm_png_variants", (s, dir) => {
      val mk = udf((id: Long, txt: String) =>
        Multimodal.syntheticPngVariant(id, txt))
      val byteSum = udf((b: Array[Byte]) => {
        var t = 0L; var i = 0
        while (i < b.length) { t += (b(i) & 0xff); i += 1 }; t
      })
      val media = table(s, dir, "documents")
        .select(col("doc_id"), mk(col("doc_id"), col("text")).as("media"))
      Multimodal.decodeGrayStage(media)
        .filter(col("decoded"))
        .select(col("doc_id"), col("width"), col("height"),
          byteSum(col("gray")).as("sum_luma"))
        .orderBy("doc_id")
    }, Sql(
      """WITH d AS (SELECT doc_id, 5 + doc_id % 8 AS w, 4 + doc_id % 5 AS h,
           doc_id % 6 AS k FROM documents WHERE doc_id % 6 <> 0),
         px AS (SELECT doc_id, w, h,
           CASE WHEN k = 1 THEN (doc_id + 3 * x + 5 * y) % 256
                WHEN k = 2 THEN ((doc_id * 257 + 4099 * x + 131 * y) % 65536) // 256
                WHEN k = 3 THEN 17 * ((doc_id + 3 * x + 5 * y) % 16)
                WHEN k = 4 THEN 255 * ((doc_id + x + y) % 2)
                ELSE 85 * ((doc_id + x + 2 * y) % 4)
           END AS v
           FROM d, unnest(generate_series(0, d.w - 1)) AS tx(x),
                unnest(generate_series(0, d.h - 1)) AS ty(y))
         SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(sum(v) AS BIGINT) AS sum_luma
         FROM px GROUP BY 1, 2, 3 ORDER BY doc_id""")),

    // REAL WebP-lossless (VP8L) decode end-to-end (graft.ops.Webp):
    // RIFF walk, LSB-first bitstream, canonical prefix codes, LZ77 +
    // color cache, and the transform set — the fixture rotates the
    // encode path (plain / subtract-green / predictor / palette /
    // cache+runs / meta-split) per doc while the closed-form pixel
    // grid keeps the expected luma sums computable in plain SQL
    // (lossless ⇒ path-independent). A prefix-code, transform-order,
    // bundling, or cache mistake shifts sum_luma and fails the hash.
    Query("mm_webp_real", (s, dir) => {
      val mk = udf((id: Long, txt: String) =>
        Multimodal.syntheticWebp(id, txt))
      val byteSum = udf((b: Array[Byte]) => {
        var t = 0L; var i = 0
        while (i < b.length) { t += (b(i) & 0xff); i += 1 }; t
      })
      val media = table(s, dir, "documents")
        .select(col("doc_id"), mk(col("doc_id"), col("text")).as("media"))
      Multimodal.decodeGrayStage(media)
        .filter(col("decoded"))
        .select(col("doc_id"), col("width"), col("height"),
          byteSum(col("gray")).as("sum_luma"))
        .orderBy("doc_id")
    }, Sql(
      """WITH d AS (SELECT doc_id, 4 + doc_id % 9 AS w, 3 + doc_id % 7 AS h
           FROM documents WHERE doc_id % 7 <> 0),
         px AS (SELECT doc_id, w, h,
           (299 * ((doc_id + 3 * x + 7 * y) % 256)
            + 587 * ((2 * doc_id + 5 * x + y) % 256)
            + 114 * ((3 * doc_id + x + 11 * y) % 256)) // 1000 AS v
           FROM d, unnest(generate_series(0, d.w - 1)) AS tx(x),
                unnest(generate_series(0, d.h - 1)) AS ty(y))
         SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(sum(v) AS BIGINT) AS sum_luma
         FROM px GROUP BY 1, 2, 3 ORDER BY doc_id""")),

    // REAL LOSSY-WEBP (VP8 key-frame) decode end-to-end (graft.ops.Vp8):
    // boolean arithmetic decoder, segmentation with absolute per-segment
    // quantizers, kf mode trees, token trees with cat extra bits, Y2
    // WHT + 4x4 DCT inverses, and intra prediction — on fixtures whose
    // luma is flat per macroblock with DC-only residuals chosen so the
    // integer chain reconstructs the closed-form value EXACTLY
    // (mm_jpeg_real's no-DCT trick, extended through the Y2 WHT). The
    // qindex, token-partition count, mode rotation, and ragged dims all
    // rotate with doc_id; a bool-decoder, dequant, WHT, prediction, or
    // context mistake shifts sum_luma and fails the hash. The decoder
    // itself is additionally pinned byte-for-byte against libwebp's
    // decode output on real encodes in Vp8Spec.
    Query("mm_webp_lossy_real", (s, dir) => {
      val mk = udf((id: Long, txt: String) =>
        Multimodal.syntheticWebpLossy(id, txt))
      val byteSum = udf((b: Array[Byte]) => {
        var t = 0L; var i = 0
        while (i < b.length) { t += (b(i) & 0xff); i += 1 }; t
      })
      val media = table(s, dir, "documents")
        .select(col("doc_id"), mk(col("doc_id"), col("text")).as("media"))
      Multimodal.decodeGrayStage(media)
        .filter(col("decoded"))
        .select(col("doc_id"), col("width"), col("height"),
          byteSum(col("gray")).as("sum_luma"))
        .orderBy("doc_id")
    }, Sql(
      """WITH d AS (SELECT doc_id,
           16 * (1 + doc_id % 3) + CASE WHEN doc_id % 5 = 1 THEN 7 ELSE 0 END AS w,
           16 * (1 + doc_id % 2) + CASE WHEN doc_id % 5 = 3 THEN 5 ELSE 0 END AS h
           FROM documents WHERE doc_id % 7 <> 0),
         px AS (SELECT doc_id, w, h,
           (doc_id * 5 + 11 * (x // 16) + 17 * (y // 16)) % 256 AS v
           FROM d, unnest(generate_series(0, d.w - 1)) AS tx(x),
                unnest(generate_series(0, d.h - 1)) AS ty(y))
         SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(sum(v) AS BIGINT) AS sum_luma
         FROM px GROUP BY 1, 2, 3 ORDER BY doc_id""")),

    // ANIMATED WebP frame decode end-to-end: the ANMF chunk walk with
    // per-frame subrect headers, each sampled frame decoded standalone
    // through whichever sub-decoder its tag names — LOSSY VP8 frames
    // (DC-exact per-MB-flat fixtures) alternate with LOSSLESS VP8L
    // frames (closed-form RGB), so one oracle pins the container walk,
    // the header fields (frame_x/frame_y), and BOTH decoders at once
    Query("mm_webp_anim_real", (s, dir) => {
      val mk = udf((id: Long, txt: String) =>
        Multimodal.syntheticAnimWebp(id, txt))
      val byteSum = udf((b: Array[Byte]) => {
        var t = 0L; var i = 0
        while (i < b.length) { t += (b(i) & 0xff); i += 1 }; t
      })
      val media = table(s, dir, "documents")
        .select(col("doc_id"), mk(col("doc_id"), col("text")).as("media"))
      Multimodal.sampleAnimWebpLuma(media, stride = 1)
        .select(col("doc_id"), col("frame_idx"), col("frame_x"),
          col("frame_y"), col("width"), col("height"),
          byteSum(col("gray")).as("sum_luma"))
        .orderBy("doc_id", "frame_idx")
    }, Sql(
      """WITH d AS (SELECT doc_id, 2 + doc_id % 3 AS n
           FROM documents WHERE doc_id % 7 <> 0),
         fr AS (SELECT doc_id, unnest(generate_series(0, n - 1)) AS f FROM d),
         dims AS (SELECT doc_id, f,
           CASE WHEN f % 2 = 0 THEN 16 * (1 + (doc_id + f) % 2)
                ELSE 4 + (doc_id + f) % 9 END AS w,
           CASE WHEN f % 2 = 0 THEN 16 * (1 + (doc_id + f) % 2)
                ELSE 3 + (doc_id + f) % 7 END AS h
           FROM fr),
         px AS (SELECT doc_id, f, w, h,
           CASE WHEN f % 2 = 0
             THEN (doc_id * 3 + 7 * f + 11 * (x // 16) + 13 * (y // 16)) % 256
             ELSE (299 * ((doc_id + 3 * x + 7 * y + f) % 256)
                 + 587 * ((2 * doc_id + 5 * x + y + 3 * f) % 256)
                 + 114 * ((3 * doc_id + x + 11 * y + 5 * f) % 256)) // 1000
           END AS v
           FROM dims, unnest(generate_series(0, dims.w - 1)) AS tx(x),
                unnest(generate_series(0, dims.h - 1)) AS ty(y))
         SELECT doc_id, CAST(f AS INT) AS frame_idx,
           CAST(2 * (f % 3) AS INT) AS frame_x,
           CAST(2 * (f % 2) AS INT) AS frame_y,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(sum(v) AS BIGINT) AS sum_luma
         FROM px GROUP BY doc_id, f, w, h
         ORDER BY doc_id, frame_idx""")),

    // COMPOSITED animated-WebP decode: the ANMF disposal/blend state
    // machine applied through the shared Anim compositor — each row is
    // a PRESENTED 40x40 canvas, its sum 256*v_k plus the 256*v_j of
    // every earlier frame whose dispose bit was clear (frames sit on
    // non-overlapping quadrants, so visibility is a pure window sum
    // the oracle reproduces with no pixel code). A dispose/blend flag,
    // background, clipping, or presentation-order mistake shifts
    // sum_luma and fails the hash; overlapping-rect and alpha-blend
    // cases are pinned in AnimCompositorSpec.
    Query("mm_webp_anim_composited", (s, dir) => {
      val mk = udf((id: Long, txt: String) =>
        Multimodal.syntheticAnimWebpComposited(id, txt))
      val byteSum = udf((b: Array[Byte]) => {
        var t = 0L; var i = 0
        while (i < b.length) { t += (b(i) & 0xff); i += 1 }; t
      })
      val media = table(s, dir, "documents")
        .select(col("doc_id"), mk(col("doc_id"), col("text")).as("media"))
      Multimodal.sampleCompositedLuma(media, stride = 1)
        .select(col("doc_id"), col("frame_idx"), col("width"),
          col("height"), byteSum(col("gray")).as("sum_luma"))
        .orderBy("doc_id", "frame_idx")
    }, Sql(
      """WITH d AS (SELECT doc_id, 2 + doc_id % 3 AS n
           FROM documents WHERE doc_id % 7 <> 0),
         f AS (SELECT doc_id, unnest(generate_series(0, n - 1)) AS fi FROM d),
         v AS (SELECT doc_id, fi,
           256 * ((doc_id * 3 + 7 * fi) % 256) AS s,
           (doc_id + fi) % 2 AS disp FROM f)
         SELECT doc_id, CAST(fi AS INT) AS frame_idx,
           CAST(40 AS INT) AS width, CAST(40 AS INT) AS height,
           CAST(s + COALESCE(SUM(CASE WHEN disp = 0 THEN s END) OVER
             (PARTITION BY doc_id ORDER BY fi
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS sum_luma
         FROM v ORDER BY doc_id, frame_idx""")),

    // COMPOSITED animated-GIF decode: same contract through the same
    // compositor, driven by the GCE disposal codes (none/background/
    // previous rotate with (id+f); on non-overlapping rects previous
    // degenerates to background, so the oracle's visibility rule is
    // dispose==none — the overlapping distinction is a spec case)
    Query("mm_gif_anim_composited", (s, dir) => {
      val mk = udf((id: Long, txt: String) =>
        Multimodal.syntheticAnimGif(id, txt))
      val byteSum = udf((b: Array[Byte]) => {
        var t = 0L; var i = 0
        while (i < b.length) { t += (b(i) & 0xff); i += 1 }; t
      })
      val media = table(s, dir, "documents")
        .select(col("doc_id"), mk(col("doc_id"), col("text")).as("media"))
      Multimodal.sampleCompositedLuma(media, stride = 1)
        .select(col("doc_id"), col("frame_idx"), col("width"),
          col("height"), byteSum(col("gray")).as("sum_luma"))
        .orderBy("doc_id", "frame_idx")
    }, Sql(
      """WITH d AS (SELECT doc_id, 2 + doc_id % 3 AS n
           FROM documents WHERE doc_id % 5 <> 0),
         f AS (SELECT doc_id, unnest(generate_series(0, n - 1)) AS fi FROM d),
         v AS (SELECT doc_id, fi,
           256 * ((doc_id * 5 + 11 * fi) % 256) AS s,
           1 + (doc_id + fi) % 3 AS disp FROM f)
         SELECT doc_id, CAST(fi AS INT) AS frame_idx,
           CAST(40 AS INT) AS width, CAST(40 AS INT) AS height,
           CAST(s + COALESCE(SUM(CASE WHEN disp = 1 THEN s END) OVER
             (PARTITION BY doc_id ORDER BY fi
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS sum_luma
         FROM v ORDER BY doc_id, frame_idx""")),

    // PROGRESSIVE (SOF2) JPEG decode end-to-end: multi-scan successive
    // approximation — DC first at Al=1, spectral AC bands, DC and AC
    // refinement scans — reassembled into one coefficient buffer and
    // IDCT'd. Fixtures are flat 8x8 blocks (closed form), so the
    // oracle recomputes decoded pixel sums with no DCT; any scan-
    // script, point-transform, EOB-run, or refinement mistake shifts
    // sum_luma and fails the hash. The decoder is additionally cross-
    // validated against the JDK's libjpeg-backed ImageIO in
    // JpegProgressiveSpec.
    Query("mm_jpeg_progressive", (s, dir) => {
      val mk = udf((id: Long, txt: String) =>
        Multimodal.syntheticJpegProgressive(id, txt))
      val byteSum = udf((b: Array[Byte]) => {
        var t = 0L; var i = 0
        while (i < b.length) { t += (b(i) & 0xff); i += 1 }; t
      })
      val media = table(s, dir, "documents")
        .select(col("doc_id"), mk(col("doc_id"), col("text")).as("media"))
      Multimodal.decodeGrayStage(media)
        .filter(col("decoded"))
        .select(col("doc_id"), col("width"), col("height"),
          byteSum(col("gray")).as("sum_luma"))
        .orderBy("doc_id")
    }, Sql(
      """WITH m AS (SELECT doc_id, 1 + doc_id % 4 AS bw, 1 + doc_id % 3 AS bh
           FROM documents WHERE doc_id % 5 <> 0),
         gx AS (SELECT doc_id, bw, bh,
           unnest(generate_series(0, bw - 1)) AS bx FROM m),
         gxy AS (SELECT doc_id, bw, bh, bx,
           unnest(generate_series(0, bh - 1)) AS byy FROM gx)
         SELECT doc_id, CAST(8 * bw AS INT) AS width,
           CAST(8 * bh AS INT) AS height,
           CAST(sum(64 * ((doc_id + 11 * bx + 17 * byy) % 256)) AS BIGINT)
             AS sum_luma
         FROM gxy GROUP BY 1, 2, 3 ORDER BY doc_id""")),

    // REAL 3-component color JPEG decode end-to-end: YCbCr baseline
    // with 420/422/444 chroma subsampling cycling across docs, MCU-
    // grid-flat fixtures, per-channel pixel sums — the DuckDB oracle
    // recomputes each block's decoded RGB through the SAME integer
    // fixed-point conversion chain (RGB→YCbCr, quant round-trip is
    // exact on flat blocks, YCbCr→RGB with clamp) without any DCT
    Query("mm_jpeg_color", (s, dir) => {
      val mk = udf((id: Long, txt: String) =>
        Multimodal.syntheticJpegColor(id, txt))
      val chanSum = udf((b: Array[Byte], c: Int) => {
        var t = 0L; var i = c
        while (i < b.length) { t += (b(i) & 0xff); i += 3 }; t
      })
      val media = table(s, dir, "documents")
        .select(col("doc_id"), mk(col("doc_id"), col("text")).as("media"))
      Multimodal.decodeRgbStage(media)
        .filter(col("decoded"))
        .select(col("doc_id"), col("width"), col("height"),
          chanSum(col("rgb"), lit(0)).as("sum_r"),
          chanSum(col("rgb"), lit(1)).as("sum_g"),
          chanSum(col("rgb"), lit(2)).as("sum_b"))
        .orderBy("doc_id")
    }, Sql(
      """WITH m AS (SELECT doc_id, 1 + doc_id % 3 AS bw, 1 + doc_id % 2 AS bh
           FROM documents WHERE doc_id % 5 <> 0),
         gx AS (SELECT doc_id, bw, bh,
           unnest(generate_series(0, bw - 1)) AS bx FROM m),
         gxy AS (SELECT doc_id, bw, bh, bx,
           unnest(generate_series(0, bh - 1)) AS byy FROM gx),
         blk AS (SELECT doc_id, bw, bh,
           (doc_id + 7 * bx + 13 * byy) % 256 AS r,
           (3 * doc_id + 11 * bx + 5 * byy) % 256 AS g,
           (5 * doc_id + 3 * bx + 17 * byy) % 256 AS b
           FROM gxy),
         ycc AS (SELECT doc_id, bw, bh,
           (299 * r + 587 * g + 114 * b + 500) // 1000 AS yv,
           (-168736 * r - 331264 * g + 500000 * b + 128500000) // 1000000 AS cb,
           (500000 * r - 418688 * g - 81312 * b + 128500000) // 1000000 AS cr
           FROM blk),
         pix AS (SELECT doc_id, bw, bh,
           least(greatest((1000 * yv + 1402 * (cr - 128) + 256500) // 1000 - 256, 0), 255) AS rp,
           least(greatest((1000000 * yv - 344136 * (cb - 128) - 714136 * (cr - 128) + 256500000) // 1000000 - 256, 0), 255) AS gp,
           least(greatest((1000 * yv + 1772 * (cb - 128) + 256500) // 1000 - 256, 0), 255) AS bp
           FROM ycc)
         SELECT doc_id, CAST(16 * bw AS INT) AS width,
           CAST(16 * bh AS INT) AS height,
           CAST(sum(256 * rp) AS BIGINT) AS sum_r,
           CAST(sum(256 * gp) AS BIGINT) AS sum_g,
           CAST(sum(256 * bp) AS BIGINT) AS sum_b
         FROM pix GROUP BY 1, 2, 3 ORDER BY doc_id""")),

    // REAL 4-component CMYK/YCCK JPEG decode end-to-end: Adobe
    // print-pipeline streams (APP14 transform 0 = plain CMYK on even
    // ids, 2 = YCCK on odd), block-flat component fixtures — the
    // oracle recomputes decoded luma through the SAME integer chain
    // (YCbCr→RGB fixed point where YCCK, ·k/255 un-inking, BT.601)
    // with no DCT, so a transform-flag, component-order, or division
    // mistake fails the hash
    Query("mm_jpeg_cmyk", (s, dir) => {
      val mk = udf((id: Long, txt: String) =>
        Multimodal.syntheticJpegCmyk(id, txt))
      val byteSum = udf((b: Array[Byte]) => {
        var t = 0L; var i = 0
        while (i < b.length) { t += (b(i) & 0xff); i += 1 }; t
      })
      val media = table(s, dir, "documents")
        .select(col("doc_id"), mk(col("doc_id"), col("text")).as("media"))
      Multimodal.decodeGrayStage(media)
        .filter(col("decoded"))
        .select(col("doc_id"), col("width"), col("height"),
          byteSum(col("gray")).as("sum_luma"))
        .orderBy("doc_id")
    }, Sql(
      """WITH m AS (SELECT doc_id, 1 + doc_id % 4 AS bw, 1 + doc_id % 3 AS bh,
           doc_id % 2 AS t FROM documents WHERE doc_id % 5 <> 0),
         gx AS (SELECT doc_id, t, bw, bh,
           unnest(generate_series(0, bw - 1)) AS bx FROM m),
         gxy AS (SELECT doc_id, t, bw, bh, bx,
           unnest(generate_series(0, bh - 1)) AS byy FROM gx),
         blk AS (SELECT doc_id, t, bw, bh,
           (doc_id * 3 + 7 * bx + 13 * byy) % 256 AS s0,
           (doc_id * 5 + 7 * bx + 13 * byy + 29) % 256 AS s1,
           (doc_id * 7 + 7 * bx + 13 * byy + 58) % 256 AS s2,
           (doc_id * 9 + 7 * bx + 13 * byy + 87) % 256 AS s3
           FROM gxy),
         ink AS (SELECT doc_id, bw, bh, s3,
           CASE WHEN t = 0 THEN s0 ELSE least(greatest(
             (1000 * s0 + 1402 * (s2 - 128) + 256500) // 1000 - 256,
             0), 255) END AS c,
           CASE WHEN t = 0 THEN s1 ELSE least(greatest(
             (1000000 * s0 - 344136 * (s1 - 128) - 714136 * (s2 - 128)
              + 256500000) // 1000000 - 256, 0), 255) END AS mk,
           CASE WHEN t = 0 THEN s2 ELSE least(greatest(
             (1000 * s0 + 1772 * (s1 - 128) + 256500) // 1000 - 256,
             0), 255) END AS yv
           FROM blk),
         pix AS (SELECT doc_id, bw, bh,
           (299 * ((c * s3) // 255) + 587 * ((mk * s3) // 255)
            + 114 * ((yv * s3) // 255)) // 1000 AS l
           FROM ink)
         SELECT doc_id, CAST(8 * bw AS INT) AS width,
           CAST(8 * bh AS INT) AS height,
           CAST(sum(64 * l) AS BIGINT) AS sum_luma
         FROM pix GROUP BY 1, 2, 3 ORDER BY doc_id""")),

    // REAL resize execution (the stage mm_resize_plan only plans):
    // nearest-neighbor resample of genuinely-decoded luma planes to
    // 8x8 — the oracle recomputes the closed-form luma at the exact
    // integer source coordinates (x*w//8, y*h//8) and sums, so an
    // off-by-one in the coordinate mapping, a transposed axis, or a
    // stride mistake in the resampled plane fails the hash.
    Query("mm_resize_real", (s, dir) => {
      val mk = udf((id: Long, txt: String) =>
        Multimodal.syntheticContainer(id, txt))
      val byteSum = udf((b: Array[Byte]) => {
        var t = 0L; var i = 0
        while (i < b.length) { t += (b(i) & 0xff); i += 1 }; t
      })
      val media = table(s, dir, "documents")
        .select(col("doc_id"), mk(col("doc_id"), col("text")).as("media"))
      Multimodal.resizeGrayStage(
        Multimodal.decodeGrayStage(media).filter(col("decoded")), 8, 8)
        .select(col("doc_id"), col("out_w"), col("out_h"),
          byteSum(col("gray")).as("sum_gray"))
        .orderBy("doc_id")
    }, Sql(
      """WITH m AS (SELECT doc_id, doc_id % 8 AS k,
           CASE WHEN doc_id % 8 = 5 THEN 16 * (1 + doc_id % 3) + 5
                WHEN doc_id % 8 = 6 THEN 4 + doc_id % 9
                WHEN doc_id % 8 = 7 THEN 40
                ELSE 1 + doc_id % 37 END AS w,
           CASE WHEN doc_id % 8 = 5 THEN 16 * (1 + (doc_id // 8) % 2) + 3
                WHEN doc_id % 8 = 6 THEN 3 + doc_id % 7
                WHEN doc_id % 8 = 7 THEN 40
                ELSE 1 + doc_id % 23 END AS h
           FROM documents WHERE doc_id % 8 <> 0),
         gx AS (SELECT doc_id, k, w, h,
           unnest(generate_series(0, 7)) AS x FROM m),
         gxy AS (SELECT doc_id, k, w, h, x,
           unnest(generate_series(0, 7)) AS y FROM gx),
         src AS (SELECT doc_id, k,
           (x * w) // 8 AS sx, (y * h) // 8 AS sy FROM gxy),
         lum AS (SELECT doc_id,
           CASE WHEN k = 4 THEN (sx * 31 + sy * 17 + doc_id) % 256
                WHEN k = 5 THEN
                  (doc_id * 7 + 11 * (sx // 16) + 17 * (sy // 16)) % 256
                WHEN k = 6 THEN (299 * ((doc_id + 3 * sx + 7 * sy) % 256)
                    + 587 * ((2 * doc_id + 5 * sx + sy) % 256)
                    + 114 * ((3 * doc_id + sx + 11 * sy) % 256)) // 1000
                WHEN k = 7 THEN CASE WHEN sx < 16 AND sy < 16
                    THEN (doc_id * 3) % 256 ELSE 0 END
                ELSE (299 * ((sx * 31 + sy * 17 + doc_id) % 256)
                    + 587 * (((sx * 31 + sy * 17 + doc_id) % 256 + 85) % 256)
                    + 114 * (((sx * 31 + sy * 17 + doc_id) % 256 + 170) % 256))
                    // 1000
           END AS l FROM src)
         SELECT doc_id, CAST(8 AS INT) AS out_w, CAST(8 AS INT) AS out_h,
           CAST(sum(l) AS BIGINT) AS sum_gray
         FROM lum GROUP BY 1 ORDER BY doc_id""")),
  )
}
