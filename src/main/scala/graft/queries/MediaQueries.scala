package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.t

/** The media tier (SURVEY.md §2.12): image, audio and video decode,
  * perceptual hashes, media near-dup pairs and canonicalization over
  * payloads carried in the `documents` table. */
object MediaQueries {

  /** This family's records; [[graft.SparkEntry.registry]] collects them. */
  val all: Seq[Query] = Seq(

  /** Multimodal plumbing: documents as opaque binary payloads through
    * the per-partition feature extractor (deterministic md5-derived
    * stub decoder — the Spark-side batch shape is what's exercised).
    * Oracle mirrors the md5-derived features byte-for-byte. */
  Query("q37_multimodal") { (s, dir) =>
    import graft.multimodal.Multimodal
    val media = t(s, dir, "documents").select(
      col("doc_id").as("media_id"), lit("utf8").as("format"),
      col("text").cast("binary").as("payload"))
    Multimodal.extractFeatures(media,
        Multimodal.MediaDecoder.Deterministic(8))
      .select(col("media_id").as("doc_id"), col("payload_bytes"),
        element_at(col("features"), 1).as("f0"),
        element_at(col("features"), 2).as("f1"),
        element_at(col("features"), 3).as("f2"),
        element_at(col("features"), 4).as("f3"))
      .orderBy("doc_id")
  } (oracle = """
      SELECT doc_id, octet_length(text::BLOB)::INT AS payload_bytes,
             (('0x' || substr(md5(text), 1, 2))::INT / 255.0)::FLOAT AS f0,
             (('0x' || substr(md5(text), 3, 2))::INT / 255.0)::FLOAT AS f1,
             (('0x' || substr(md5(text), 5, 2))::INT / 255.0)::FLOAT AS f2,
             (('0x' || substr(md5(text), 7, 2))::INT / 255.0)::FLOAT AS f3
      FROM documents ORDER BY doc_id"""),

  /** Real image decode (the [[graft.multimodal.Multimodal.MediaDecoder.ImageIo]]
    * kernel, JDK `javax.imageio`, no external library): deterministic
    * synthetic BMPs — pixel channels are linear congruences of
    * (doc_id % 256, x, y) — are encoded in-task, decoded by the real
    * BMP codec, and featurized (dims, channel means, bright-pixel
    * fraction). The oracle re-derives every feature arithmetically
    * over a generate_series pixel grid, so the encode → real-decode →
    * feature chain is pinned end to end. */
  Query("q76_image_decode") { (s, dir) =>
    import graft.multimodal.Multimodal
    import s.implicits._
    val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map(id => (id, "image", "bmp", Multimodal.SyntheticMedia.docBmp(id)))
      .toDF("media_id", "kind", "format", "payload")
    Multimodal.extractFeatures(media, Multimodal.MediaDecoder.ImageIo())
      .select(col("media_id").as("doc_id"), col("payload_bytes"),
        element_at(col("features"), 1).as("width"),
        element_at(col("features"), 2).as("height"),
        element_at(col("features"), 3).as("r_mean"),
        element_at(col("features"), 4).as("g_mean"),
        element_at(col("features"), 5).as("b_mean"),
        element_at(col("features"), 6).as("frac_bright"))
      .orderBy("doc_id")
  } (oracle =
    // The decoded-feature re-derivation: same pixel congruences the
    // Spark side ENCODES (the Spark side then round-trips them through
    // the real javax.imageio BMP codec, so a codec/encoder bug on
    // either end hash-fails). 8x8 24bpp BMP: rows are 24 bytes (no
    // padding), file = 54 + 8*24 = 246 bytes. Integer channel sums
    // divide once in double, both engines bit-identical.
    """
      WITH px AS (
        SELECT d.doc_id,
               ((d.doc_id % 256) * 3 + x.x * 7 + y.y * 11) % 256 AS r,
               ((d.doc_id % 256) * 5 + x.x * 11 + y.y * 3) % 256 AS g,
               ((d.doc_id % 256) * 7 + x.x * 3 + y.y * 13) % 256 AS b
        FROM documents d
        CROSS JOIN generate_series(0, 7) AS x(x)
        CROSS JOIN generate_series(0, 7) AS y(y))
      SELECT doc_id, 246 AS payload_bytes,
             8.0::FLOAT AS width, 8.0::FLOAT AS height,
             (sum(r)::DOUBLE / 64.0)::FLOAT AS r_mean,
             (sum(g)::DOUBLE / 64.0)::FLOAT AS g_mean,
             (sum(b)::DOUBLE / 64.0)::FLOAT AS b_mean,
             ((count(*) FILTER (WHERE r + g + b >= 384))::DOUBLE / 64.0)
               ::FLOAT AS frac_bright
      FROM px GROUP BY doc_id ORDER BY doc_id"""),

  /** Real audio decode (the [[graft.multimodal.Multimodal.MediaDecoder.AudioIo]]
    * kernel, JDK `javax.sound.sampled`, no external library):
    * deterministic synthetic WAVs — 16-bit PCM samples are a linear
    * congruence of (doc_id % 1009, i) — encoded in-task, decoded by
    * the real RIFF/WAVE parser, and featurized (rate, length,
    * mean |s|, RMS, non-negative fraction, max |s|). The oracle
    * re-derives every feature arithmetically over a generate_series
    * sample grid. */
  Query("q78_audio_decode") { (s, dir) =>
    import graft.multimodal.Multimodal
    import s.implicits._
    val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map(id => (id, "audio", "wav", Multimodal.SyntheticMedia.docWav(id)))
      .toDF("media_id", "kind", "format", "payload")
    Multimodal.extractFeatures(media, Multimodal.MediaDecoder.AudioIo())
      .select(col("media_id").as("doc_id"), col("payload_bytes"),
        element_at(col("features"), 1).as("sample_rate"),
        element_at(col("features"), 2).as("n_samples"),
        element_at(col("features"), 3).as("mean_abs"),
        element_at(col("features"), 4).as("rms"),
        element_at(col("features"), 5).as("nonneg_frac"),
        element_at(col("features"), 6).as("max_abs"))
      .orderBy("doc_id")
  } (oracle =
    // Same sample congruence the Spark side ENCODES into real WAV
    // bytes (then round-trips through javax.sound.sampled). 256
    // samples * 2 bytes + 44-byte canonical header = 556 bytes.
    // Integer accumulators divide once in double; sqrt is correctly
    // rounded in both engines, so the FLOAT casts are bit-identical.
    """
      WITH smp AS (
        SELECT d.doc_id,
               ((d.doc_id % 1009) * 131 + i.i * 997) % 65536 - 32768 AS s
        FROM documents d CROSS JOIN generate_series(0, 255) AS i(i))
      SELECT doc_id, 556 AS payload_bytes,
             8000.0::FLOAT AS sample_rate, 256.0::FLOAT AS n_samples,
             (sum(abs(s))::DOUBLE / 256.0)::FLOAT AS mean_abs,
             sqrt(sum(s * s)::DOUBLE / 256.0)::FLOAT AS rms,
             ((count(*) FILTER (WHERE s >= 0))::DOUBLE / 256.0)::FLOAT
               AS nonneg_frac,
             max(abs(s))::FLOAT AS max_abs
      FROM smp GROUP BY doc_id ORDER BY doc_id"""),

  /** Real video decode (the
    * [[graft.multimodal.Multimodal.MediaDecoder.AviDib]] kernel — a
    * hand-rolled RIFF/AVI chunk walker over uncompressed 24-bit DIB
    * frames, zero codec dependencies): deterministic synthetic AVIs —
    * each channel of pixel (f, x, y) is a linear congruence of
    * (doc_id % 1009, f, x, y) — are encoded in-task, decoded by the
    * real parser, frame-sampled every 2nd frame INSIDE the kernel,
    * and featurized. The oracle re-derives every feature over a
    * (frame, x, y) generate_series grid restricted to the sampled
    * frames. */
  Query("q79_video_decode") { (s, dir) =>
    import graft.multimodal.Multimodal
    import s.implicits._
    val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map(id => (id, "video", "avi", Multimodal.SyntheticMedia.docAvi(id)))
      .toDF("media_id", "kind", "format", "payload")
    Multimodal.extractFeatures(media,
        Multimodal.MediaDecoder.AviDib(frameStride = 2))
      .select(col("media_id").as("doc_id"), col("payload_bytes"),
        element_at(col("features"), 1).as("width"),
        element_at(col("features"), 2).as("height"),
        element_at(col("features"), 3).as("n_frames"),
        element_at(col("features"), 4).as("n_sampled"),
        element_at(col("features"), 5).as("r_mean"),
        element_at(col("features"), 6).as("g_mean"),
        element_at(col("features"), 7).as("b_mean"),
        element_at(col("features"), 8).as("frac_bright"))
      .orderBy("doc_id")
  } (oracle =
    // Same per-channel congruences the Spark side ENCODES into real
    // AVI/DIB bytes (then round-trips through the RIFF chunk walker).
    // 6 frames of 8x6 px, kernel samples every 2nd frame -> frames
    // 0/2/4, 144 sampled pixels. Container: 1136 bytes (44+56+124
    // header chunks + 6 x 152-byte frame chunks).
    """
      WITH px AS (
        SELECT d.doc_id,
               ((d.doc_id % 1009) * 7 + f.f * 11 + x.x * 3 + y.y * 13)
                 % 256 AS r,
               ((d.doc_id % 1009) * 3 + f.f * 5 + x.x * 7 + y.y * 11)
                 % 256 AS g,
               ((d.doc_id % 1009) * 11 + f.f * 3 + x.x * 13 + y.y * 5)
                 % 256 AS b
        FROM documents d
        CROSS JOIN generate_series(0, 5) AS f(f)
        CROSS JOIN generate_series(0, 7) AS x(x)
        CROSS JOIN generate_series(0, 5) AS y(y)
        WHERE f.f % 2 = 0)
      SELECT doc_id, 1136 AS payload_bytes,
             8.0::FLOAT AS width, 6.0::FLOAT AS height,
             6.0::FLOAT AS n_frames, 3.0::FLOAT AS n_sampled,
             (sum(r)::DOUBLE / 144.0)::FLOAT AS r_mean,
             (sum(g)::DOUBLE / 144.0)::FLOAT AS g_mean,
             (sum(b)::DOUBLE / 144.0)::FLOAT AS b_mean,
             ((count(*) FILTER (WHERE r + g + b >= 384))::DOUBLE / 144.0)
               ::FLOAT AS frac_bright
      FROM px GROUP BY doc_id ORDER BY doc_id"""),

  /** Image near-dup pairs ([[graft.multimodal.MediaDedup]], X84 —
    * VERDICT r18 ask #1): deterministic 18×16 BMPs in exact-dup
    * piles (seed = doc_id % 40) with three engineered dup classes —
    * PNG re-encode (doc_id % 3 = 1: different bytes, identical
    * pixels), global brightness +7 (doc_id % 5 = 2: dHash-invariant
    * when unclamped), and a right-edge "sticker" edit (doc_id % 7 =
    * 3: +80 on x ≥ 14, clamped at 255 — flips only right-column
    * comparisons, a small positive Hamming distance). The REAL
    * ImageIO decoder hashes every payload (the re-encodes exercise
    * the PNG codec path); pairs come from the 4×16-bit rotated-band
    * join at radius 3. The oracle re-derives every pixel, the luma
    * grid, the 64 packed comparison bits (sign bit via two's
    * complement), and the pair set by brute self-join — equal to
    * the banded join by the pigeonhole exactness argument. */
  Query("q154_image_neardup") { (s, dir) =>
    import graft.multimodal.{MediaDedup, Multimodal}
    import s.implicits._
    val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val sd = (id % 40).toInt
        val bright = id % 5 == 2
        val sticker = id % 7 == 3
        def ch(a: Int, b: Int, c: Int, x: Int, y: Int): Int = {
          var v = (sd * a + x * b + y * c) % 248
          if (bright) v += 7
          if (sticker && x >= 14) v += 80
          math.min(v, 255)
        }
        val bmp = Multimodal.SyntheticMedia.bmp24(18, 16)((x, y) =>
          (ch(3, 7, 11, x, y), ch(5, 11, 3, x, y), ch(7, 3, 13, x, y)))
        (id, if (id % 3 == 1) MediaDedup.pngReencode(bmp) else bmp)
      }.toDF("media_id", "payload")
    MediaDedup.nearDupPairs(MediaDedup.withDhash(media),
        "media_id", "dhash", 3)
      .orderBy("id_a", "id_b")
  } (oracle =
    // Image near-dup: pixel grid -> BT.601 integer luma -> 9x8 cell
    // sums (18x16 fixtures: every cell exactly 2x2 px, so the
    // engine's cross-multiplied mean compare reduces to sum<sum) ->
    // 64 packed bits (bit 63 = sign via two's complement) -> brute
    // pair join at radius 3 (== the engine's banded join by
    // pigeonhole exactness).
    """
      WITH px AS (
        SELECT d.doc_id, x.x, y.y,
          (CASE WHEN d.doc_id % 5 = 2 THEN 7 ELSE 0 END +
           CASE WHEN d.doc_id % 7 = 3 AND x.x >= 14 THEN 80 ELSE 0 END)
            AS sh
        FROM documents d
        CROSS JOIN generate_series(0, 17) AS x(x)
        CROSS JOIN generate_series(0, 15) AS y(y)),
      lum AS (
        SELECT doc_id, x // 2 AS cx, y // 2 AS cy,
          sum(299 * least(((doc_id % 40) * 3 + x * 7 + y * 11) % 248 + sh, 255)
            + 587 * least(((doc_id % 40) * 5 + x * 11 + y * 3) % 248 + sh, 255)
            + 114 * least(((doc_id % 40) * 7 + x * 3 + y * 13) % 248 + sh, 255))
            AS s
        FROM px GROUP BY doc_id, x // 2, y // 2),
      bits AS (
        SELECT a.doc_id, (a.cy * 8 + a.cx)::INT AS bit
        FROM lum a JOIN lum b
          ON a.doc_id = b.doc_id AND b.cy = a.cy AND b.cx = a.cx + 1
        WHERE a.s < b.s),
      hash AS (
        SELECT d.doc_id,
          coalesce(sum(CASE WHEN bit = 63
            THEN (-9223372036854775807 - 1)
            ELSE (1::BIGINT << bit) END), 0)::BIGINT AS h
        FROM documents d LEFT JOIN bits USING (doc_id)
        GROUP BY d.doc_id)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        bit_count(xor(a.h, b.h))::INT AS hdist
      FROM hash a JOIN hash b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.h, b.h)) <= 3
      ORDER BY id_a, id_b"""),

  /** Media header-metadata passthrough ([[graft.multimodal.Multimodal
    * .headerMeta]], VERDICT r18 ask #8 — the q76 family's no-decode
    * tier): per-doc containers with ARITHMETIC header fields — BMP
    * (width 9+id%7, height 8+id%5, 24 bpp), ImageIO PNG re-encodes
    * (IHDR 8-bit truecolor) carrying one or two real tEXt chunks
    * (CRC32-correct, inserted before IEND), and ImageIO JPEG
    * re-encodes (SOF dims + 8-bit sample precision; pixel content
    * lossy and never pinned — headers are what a sniff reads) — all
    * parsed by the header walker without any pixel decode. The
    * oracle is pure doc_id arithmetic: every surfaced column
    * (format, dims, depth, color type, tEXt count and keyword=value
    * payloads) is a CASE over the residues that built the
    * fixture. */
  Query("q155_media_meta") { (s, dir) =>
    import graft.multimodal.{MediaDedup, Multimodal}
    import s.implicits._
    val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val w = 9 + (id % 7).toInt; val h = 8 + (id % 5).toInt
        val sd = (id % 40).toInt
        val bmp = Multimodal.SyntheticMedia.bmp24(w, h)((x, y) =>
          ((sd * 3 + x * 7 + y * 11) % 256, (sd * 5 + x * 11 + y * 3) % 256,
           (sd * 7 + x * 3 + y * 13) % 256))
        val payload =
          if (id % 2 == 1) {
            var png = MediaDedup.pngReencode(bmp)
            png = Multimodal.SyntheticMedia.pngAddText(png, "src",
              s"doc${id % 10}")
            if (id % 6 == 1)
              png = Multimodal.SyntheticMedia.pngAddText(png, "lang",
                s"l${id % 3}")
            png
          } else if (id % 4 == 2) MediaDedup.jpegReencode(bmp)
          else bmp
        (id, payload)
      }.toDF("media_id", "payload")
    Multimodal.headerMeta(media)
      .select(col("media_id").as("doc_id"), col("meta_format"),
        col("meta_width"), col("meta_height"), col("meta_depth"),
        col("meta_color_type"), col("n_text"), col("text_kv"))
      .orderBy("doc_id")
  } (oracle =
    // Header-metadata passthrough: every column is doc_id residue
    // arithmetic — the engine's header walk (real BMP/PNG parsers,
    // no pixel decode) must reproduce the fixture construction
    // exactly (ImageIO PNG re-encode = IHDR 8-bit truecolor).
    """
      SELECT doc_id,
        CASE WHEN doc_id % 2 = 1 THEN 'png'
             WHEN doc_id % 4 = 2 THEN 'jpeg'
             ELSE 'bmp' END AS meta_format,
        (9 + doc_id % 7)::INT AS meta_width,
        (8 + doc_id % 5)::INT AS meta_height,
        (CASE WHEN doc_id % 2 = 1 OR doc_id % 4 = 2 THEN 8
              ELSE 24 END)::INT AS meta_depth,
        (CASE WHEN doc_id % 2 = 1 THEN 2 END)::INT AS meta_color_type,
        (CASE WHEN doc_id % 2 = 1
              THEN CASE WHEN doc_id % 6 = 1 THEN 2 ELSE 1 END
              ELSE 0 END)::INT AS n_text,
        CASE WHEN doc_id % 2 = 1
             THEN 'src=doc' || (doc_id % 10)::VARCHAR ||
               CASE WHEN doc_id % 6 = 1
                    THEN ';lang=l' || (doc_id % 3)::VARCHAR
                    ELSE '' END
             ELSE '' END AS text_kv
      FROM documents ORDER BY doc_id"""),

  /** Image average hash ([[graft.multimodal.MediaDedup.ahash64]],
    * X84's second lens): per-doc aHash-64 over 16×16 BMPs — 8×8
    * cell sums vs the global sum, cross-multiplied exact (at these
    * dims: cell·64 > total), 64 bits packed into one signed BIGINT.
    * The brightness-shifted docs (+7 unclamped, doc_id % 5 = 2)
    * exercise aHash's shift invariance in-corpus: both comparison
    * sides move by the same 7000·n_cell·n_total. The oracle
    * re-derives every pixel, cell, comparison, and the sign-bit
    * pack. */
  Query("q156_image_ahash") { (s, dir) =>
    import graft.multimodal.{MediaDedup, Multimodal}
    import s.implicits._
    val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val sd = (id % 40).toInt
        val bright = if (id % 5 == 2) 7 else 0
        val bmp = Multimodal.SyntheticMedia.bmp24(16, 16)((x, y) =>
          ((sd * 3 + x * 7 + y * 11) % 248 + bright,
           (sd * 5 + x * 11 + y * 3) % 248 + bright,
           (sd * 7 + x * 3 + y * 13) % 248 + bright))
        (id, bmp)
      }.toDF("media_id", "payload")
    MediaDedup.withAhash(media)
      .select(col("media_id").as("doc_id"), col("ahash"))
      .orderBy("doc_id")
  } (oracle =
    // aHash: luma cells vs the global sum (16x16 -> 2x2 cells, so
    // the cross-mult reduces to cell*64 > total), packed with the
    // same two's-complement sign-bit convention as q154.
    """
      WITH px AS (
        SELECT d.doc_id, x.x, y.y,
          CASE WHEN d.doc_id % 5 = 2 THEN 7 ELSE 0 END AS sh
        FROM documents d
        CROSS JOIN generate_series(0, 15) AS x(x)
        CROSS JOIN generate_series(0, 15) AS y(y)),
      lum AS (
        SELECT doc_id, x // 2 AS cx, y // 2 AS cy,
          sum(299 * (((doc_id % 40) * 3 + x * 7 + y * 11) % 248 + sh)
            + 587 * (((doc_id % 40) * 5 + x * 11 + y * 3) % 248 + sh)
            + 114 * (((doc_id % 40) * 7 + x * 3 + y * 13) % 248 + sh))
            AS s
        FROM px GROUP BY doc_id, x // 2, y // 2),
      tot AS (SELECT doc_id, sum(s) AS st FROM lum GROUP BY doc_id),
      bits AS (
        SELECT l.doc_id, (l.cy * 8 + l.cx)::INT AS bit
        FROM lum l JOIN tot t USING (doc_id)
        WHERE l.s * 64 > t.st)
      SELECT d.doc_id,
        coalesce(sum(CASE WHEN bit = 63
          THEN (-9223372036854775807 - 1)
          ELSE (1::BIGINT << bit) END), 0)::BIGINT AS ahash
      FROM documents d LEFT JOIN bits USING (doc_id)
      GROUP BY d.doc_id ORDER BY d.doc_id"""),

  /** Audio near-dup pairs ([[graft.multimodal.MediaDedup
    * .audioHash64]], X86 — completing the modality dedup matrix:
    * text/embeddings/images/now audio): deterministic 256-sample
    * WAVs in piles (seed = doc_id % 40) with two engineered dup
    * classes — exact amplitude doubling (doc_id % 5 = 2: the
    * loudness-remaster class the energy-gradient hash is invariant
    * to by cross-multiplication) and a local edit (doc_id % 7 = 3:
    * first 32 samples replaced, flipping only early-frame
    * comparisons — small positive Hamming distance). The REAL
    * `javax.sound.sampled` parser decodes every payload; pairs come
    * from the same 4×16-bit rotated-band join as q154. The oracle
    * re-derives the samples, the 65 frame energies, the 64 packed
    * comparison bits, and the pair set by brute self-join. */
  Query("q157_audio_neardup") { (s, dir) =>
    import graft.multimodal.{MediaDedup, Multimodal}
    import s.implicits._
    val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val sd = (id % 40).toInt
        val gain = if (id % 5 == 2) 2 else 1
        val edit = id % 7 == 3
        val wav = Multimodal.SyntheticMedia.wavPcm16(8000, 256) { i =>
          val base =
            if (edit && i < 32) 1000
            else (sd * 131 + i * 997) % 32768 - 16384
          base * gain
        }
        (id, wav)
      }.toDF("media_id", "payload")
    MediaDedup.nearDupPairs(MediaDedup.withAudioHash(media),
        "media_id", "audio_hash", 3)
      .orderBy("id_a", "id_b")
  } (oracle =
    // Audio near-dup: sample arithmetic (local edit applied before
    // the gain, exactly as the fixture builds it) -> 65 frame
    // |s|-energies (frame = i*65 // 256) -> 64 adjacent-frame mean
    // comparisons cross-multiplied by frame sizes -> sign-bit pack
    // -> brute pair join at radius 3 (== the banded join by
    // pigeonhole exactness).
    """
      WITH smp AS (
        SELECT d.doc_id, i.i,
          (CASE WHEN d.doc_id % 7 = 3 AND i.i < 32 THEN 1000
                ELSE ((d.doc_id % 40) * 131 + i.i * 997) % 32768
                  - 16384 END)
          * (CASE WHEN d.doc_id % 5 = 2 THEN 2 ELSE 1 END) AS s
        FROM documents d
        CROSS JOIN generate_series(0, 255) AS i(i)),
      fr AS (
        SELECT doc_id, (i * 65) // 256 AS f,
          sum(abs(s)) AS e, count(*) AS c
        FROM smp GROUP BY doc_id, (i * 65) // 256),
      bits AS (
        SELECT a.doc_id, a.f::INT AS bit
        FROM fr a JOIN fr b
          ON a.doc_id = b.doc_id AND b.f = a.f + 1
        WHERE a.e * b.c < b.e * a.c),
      hash AS (
        SELECT d.doc_id,
          coalesce(sum(CASE WHEN bit = 63
            THEN (-9223372036854775807 - 1)
            ELSE (1::BIGINT << bit) END), 0)::BIGINT AS h
        FROM documents d LEFT JOIN bits USING (doc_id)
        GROUP BY d.doc_id)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        bit_count(xor(a.h, b.h))::INT AS hdist
      FROM hash a JOIN hash b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.h, b.h)) <= 3
      ORDER BY id_a, id_b"""),

  /** Video near-dup pairs ([[graft.multimodal.MediaDedup
    * .videoFrameDhashes]]/[[graft.multimodal.MediaDedup
    * .sharedFrameVideoPairs]], X87): deterministic 6-frame 18×16
    * AVI/DIB videos in piles (seed = doc_id % 40) with three dup
    * classes — brightness +7 (per-frame dHash invariant: full
    * 6-frame match), a 4-frame cut (doc_id % 7 = 3: shares exactly
    * its 4 frames), and a constant "intro card" frame 0 (doc_id %
    * 3 = 1: a boilerplate hash shared ACROSS seeds, which the
    * minShared = 3 cut correctly ignores). The raw RIFF/DIB walker
    * hashes every sampled frame; pairing counts shared distinct
    * frame hashes. The oracle re-derives every frame's pixels,
    * cells, packed bits, and the shared-count pair join. */
  Query("q158_video_neardup") { (s, dir) =>
    import graft.multimodal.{MediaDedup, Multimodal}
    import s.implicits._
    val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val sd = (id % 40).toInt
        val bright = if (id % 5 == 2) 7 else 0
        val corrupt = id % 3 == 1
        val nf = if (id % 7 == 3) 4 else 6
        val avi = Multimodal.SyntheticMedia.aviDib(18, 16, nf) {
          (f, x, y) =>
            if (corrupt && f == 0) (40, 40, 40)
            else ((sd * 3 + f * 17 + x * 7 + y * 11) % 248 + bright,
                  (sd * 5 + f * 13 + x * 11 + y * 3) % 248 + bright,
                  (sd * 7 + f * 19 + x * 3 + y * 13) % 248 + bright)
        }
        (id, avi)
      }.toDF("media_id", "payload")
    MediaDedup.sharedFrameVideoPairs(
        MediaDedup.videoFrameHashTable(media), minShared = 3)
      .orderBy("id_a", "id_b")
  } (oracle =
    // Video near-dup: per-(doc, frame) pixel grid (corrupt intro
    // frame BEFORE brightness, exactly as the fixture builds) ->
    // per-frame dHash (18x16: 2x2 cells, sum compare, sign-bit
    // pack) -> distinct per-video hash sets -> shared-count join
    // cut at 3.
    """
      WITH fr AS (
        SELECT doc_id,
          CASE WHEN doc_id % 7 = 3 THEN 4 ELSE 6 END AS nf
        FROM documents),
      dfr AS (
        SELECT doc_id, f.f FROM fr
        CROSS JOIN generate_series(0, 5) AS f(f) WHERE f.f < nf),
      px AS (
        SELECT d.doc_id, d.f, x.x, y.y,
          CASE WHEN d.doc_id % 3 = 1 AND d.f = 0 THEN 40
               ELSE ((d.doc_id % 40) * 3 + d.f * 17 + x.x * 7
                 + y.y * 11) % 248
                 + CASE WHEN d.doc_id % 5 = 2 THEN 7 ELSE 0 END
          END AS r,
          CASE WHEN d.doc_id % 3 = 1 AND d.f = 0 THEN 40
               ELSE ((d.doc_id % 40) * 5 + d.f * 13 + x.x * 11
                 + y.y * 3) % 248
                 + CASE WHEN d.doc_id % 5 = 2 THEN 7 ELSE 0 END
          END AS g,
          CASE WHEN d.doc_id % 3 = 1 AND d.f = 0 THEN 40
               ELSE ((d.doc_id % 40) * 7 + d.f * 19 + x.x * 3
                 + y.y * 13) % 248
                 + CASE WHEN d.doc_id % 5 = 2 THEN 7 ELSE 0 END
          END AS b
        FROM dfr d
        CROSS JOIN generate_series(0, 17) AS x(x)
        CROSS JOIN generate_series(0, 15) AS y(y)),
      lum AS (
        SELECT doc_id, f, x // 2 AS cx, y // 2 AS cy,
          sum(299 * r + 587 * g + 114 * b) AS s
        FROM px GROUP BY doc_id, f, x // 2, y // 2),
      vbits AS (
        SELECT a.doc_id, a.f, (a.cy * 8 + a.cx)::INT AS bit
        FROM lum a JOIN lum b
          ON a.doc_id = b.doc_id AND a.f = b.f AND b.cy = a.cy
          AND b.cx = a.cx + 1
        WHERE a.s < b.s),
      fhash AS (
        SELECT d.doc_id, d.f,
          coalesce(sum(CASE WHEN bit = 63
            THEN (-9223372036854775807 - 1)
            ELSE (1::BIGINT << bit) END), 0)::BIGINT AS h
        FROM dfr d LEFT JOIN vbits
          ON d.doc_id = vbits.doc_id AND d.f = vbits.f
        GROUP BY d.doc_id, d.f),
      dh AS (SELECT DISTINCT doc_id, h FROM fhash)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        count(*)::BIGINT AS n_shared
      FROM dh a JOIN dh b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 3
      ORDER BY id_a, id_b"""),

  /** Media near-dup canonicalization ([[graft.multimodal.MediaDedup
    * .canonicalMedia]], X88 — VERDICT r19 ask #1, the pair-list →
    * survivor-set step): the q154 image corpus plus a RESOLUTION
    * class (doc_id % 3 = 0: 2× nearest-neighbor upscale to 36×32 —
    * every 9×8 grid cell doubles uniformly, so the dHash is
    * IDENTICAL and the upscale lands in its pile's cluster), paired
    * at radius 3, clustered by the engine's pointer-jump CC, and
    * canonicalized keep-best by pixel count from the no-decode
    * header sniff (`meta_width·meta_height`), min id on ties. The
    * oracle re-derives every pixel of BOTH sizes, the per-size cell
    * grids, the packed bits, the brute pair join, min-reachable-id
    * components via recursive reachability, and the
    * (n_px DESC, id) survivor pick. */
  Query("q159_media_canonical") { (s, dir) =>
    import graft.multimodal.{MediaDedup, Multimodal}
    import s.implicits._
    val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val sd = (id % 40).toInt
        val bright = id % 5 == 2
        val sticker = id % 7 == 3
        def ch(a: Int, b: Int, c: Int, x: Int, y: Int): Int = {
          var v = (sd * a + x * b + y * c) % 248
          if (bright) v += 7
          if (sticker && x >= 14) v += 80
          math.min(v, 255)
        }
        def px(x: Int, y: Int): (Int, Int, Int) =
          (ch(3, 7, 11, x, y), ch(5, 11, 3, x, y), ch(7, 3, 13, x, y))
        val bmp =
          if (id % 3 == 0)
            Multimodal.SyntheticMedia.bmp24(36, 32)((x, y) =>
              px(x / 2, y / 2))
          else Multimodal.SyntheticMedia.bmp24(18, 16)(px)
        (id, if (id % 3 == 1) MediaDedup.pngReencode(bmp) else bmp)
      }.toDF("media_id", "payload")
    // ONE media pass (r22, guide §8 / VERDICT r21 ask #4): headerMeta
    // and withDhash are both mapPartitions, so chaining them fuses
    // the header sniff and the pixel decode into a single scan of the
    // synthesized payloads; the narrow (id, dhash, quality) output is
    // checkpointed and fans into pairing AND the survivor nodes. The
    // previous shape ran the synthesis+decode pipeline TWICE (once
    // into nearDupPairs' checkpoint, once for the header sniff). The
    // payload never enters the checkpoint — §8's rule (decide on
    // light proxies) is what the fusion preserves.
    val meta = MediaDedup.withDhash(Multimodal.headerMeta(media))
      .select(col("media_id"), col("dhash"),
        (col("meta_width") * col("meta_height")).as("quality"))
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val pairs = MediaDedup.nearDupPairs(meta, "media_id", "dhash", 3)
    val nodes = meta.select(col("media_id"), col("quality"))
    MediaDedup.canonicalMedia(nodes, pairs)
      .select(col("media_id").as("doc_id"), col("component"),
        col("survivor"), col("keep"), col("quality").as("n_px"))
      .orderBy("doc_id")
  } (oracle =
    // Media canonicalization: the q154 pixel/hash re-derivation
    // extended with the 2x-upscale class (base coords sx = x//2,
    // cells x//4 — every cell is a uniformly doubled base cell, so
    // counts stay uniform per doc and the mean comparison reduces
    // to the sum comparison), then brute radius-3 pairs, recursive
    // min-reachable-id components, and the (n_px DESC, id) survivor
    // pick per component.
    """
      WITH RECURSIVE px AS (
        SELECT d.doc_id, x.x, y.y,
          CASE WHEN d.doc_id % 3 = 0 THEN x.x // 2 ELSE x.x END AS sx,
          CASE WHEN d.doc_id % 3 = 0 THEN y.y // 2 ELSE y.y END AS sy
        FROM documents d
        CROSS JOIN generate_series(0, 35) AS x(x)
        CROSS JOIN generate_series(0, 31) AS y(y)
        WHERE d.doc_id % 3 = 0 OR (x.x <= 17 AND y.y <= 15)),
      shp AS (
        SELECT doc_id, x, y, sx, sy,
          (CASE WHEN doc_id % 5 = 2 THEN 7 ELSE 0 END +
           CASE WHEN doc_id % 7 = 3 AND sx >= 14 THEN 80 ELSE 0 END)
            AS sh
        FROM px),
      lum AS (
        SELECT doc_id,
          CASE WHEN doc_id % 3 = 0 THEN x // 4 ELSE x // 2 END AS cx,
          CASE WHEN doc_id % 3 = 0 THEN y // 4 ELSE y // 2 END AS cy,
          sum(299 * least(((doc_id % 40) * 3 + sx * 7 + sy * 11) % 248
                + sh, 255)
            + 587 * least(((doc_id % 40) * 5 + sx * 11 + sy * 3) % 248
                + sh, 255)
            + 114 * least(((doc_id % 40) * 7 + sx * 3 + sy * 13) % 248
                + sh, 255)) AS s
        FROM shp GROUP BY 1, 2, 3),
      bits AS (
        SELECT a.doc_id, (a.cy * 8 + a.cx)::INT AS bit
        FROM lum a JOIN lum b
          ON a.doc_id = b.doc_id AND b.cy = a.cy AND b.cx = a.cx + 1
        WHERE a.s < b.s),
      hash AS (
        SELECT d.doc_id,
          coalesce(sum(CASE WHEN bit = 63
            THEN (-9223372036854775807 - 1)
            ELSE (1::BIGINT << bit) END), 0)::BIGINT AS h
        FROM documents d LEFT JOIN bits USING (doc_id)
        GROUP BY d.doc_id),
      pr AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM hash a JOIN hash b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.h, b.h)) <= 3),
      edges AS (SELECT id_a AS src, id_b AS dst FROM pr
                UNION SELECT id_b, id_a FROM pr),
      reach(id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
      comp AS (SELECT id AS doc_id, min(r) AS component
               FROM reach GROUP BY id),
      qual AS (SELECT doc_id,
          (CASE WHEN doc_id % 3 = 0 THEN 1152 ELSE 288 END)::BIGINT
            AS n_px
        FROM documents),
      rk AS (SELECT c.doc_id, c.component, q.n_px,
          row_number() OVER (PARTITION BY c.component
            ORDER BY q.n_px DESC, c.doc_id) AS rn
        FROM comp c JOIN qual q USING (doc_id)),
      sv AS (SELECT component, doc_id AS survivor FROM rk WHERE rn = 1)
      SELECT r.doc_id, r.component, s.survivor,
        (r.doc_id = s.survivor) AS keep, r.n_px
      FROM rk r JOIN sv s USING (component)
      ORDER BY r.doc_id"""),

  /** Video decode-verdict audit ([[graft.multimodal.MediaDedup
    * .videoDecodeAudit]], X87's poison-row audit — VERDICT r19 ask
    * #3): the q158 corpus with two engineered undecodable classes —
    * header-truncated payloads (doc_id % 11 = 5: cut mid-hdrl, the
    * walk finds no frames) and junk bytes (doc_id % 13 = 7: wrong
    * RIFF magic) — hashed at frameStride 2. Every video gets exactly
    * one audit row off the SAME scan the pair stage uses:
    * undecodable → (0, false) via the sentinel row, decodable → the
    * sampled-frame count (6 frames → 3, the 4-frame cut class → 2).
    * The oracle is pure doc_id residue arithmetic. */
  Query("q160_video_decode_audit") { (s, dir) =>
    import graft.multimodal.{MediaDedup, Multimodal}
    import s.implicits._
    val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val sd = (id % 40).toInt
        val nf = if (id % 7 == 3) 4 else 6
        val avi = Multimodal.SyntheticMedia.aviDib(18, 16, nf) {
          (f, x, y) =>
            ((sd * 3 + f * 17 + x * 7 + y * 11) % 248,
             (sd * 5 + f * 13 + x * 11 + y * 3) % 248,
             (sd * 7 + f * 19 + x * 3 + y * 13) % 248)
        }
        val payload: Array[Byte] =
          if (id % 11 == 5) java.util.Arrays.copyOf(avi, 80)
          else if (id % 13 == 7)
            Array.tabulate(64)(i => (i * 37 % 251).toByte)
          else avi
        (id, payload)
      }.toDF("media_id", "payload")
    MediaDedup.videoDecodeAudit(
        MediaDedup.videoFrameHashTable(media, frameStride = 2))
      .select(col("media_id").as("doc_id"), col("n_frames"),
        col("decoded"))
      .orderBy("doc_id")
  } (oracle =
    // Decode-verdict audit: pure residue arithmetic — the two
    // undecodable classes report (0, false), decodable videos the
    // stride-2 sampled-frame count (frame 0 always sampled).
    """
      SELECT doc_id,
        (CASE WHEN doc_id % 11 = 5 OR doc_id % 13 = 7 THEN 0
              WHEN doc_id % 7 = 3 THEN 2 ELSE 3 END)::BIGINT
          AS n_frames,
        (doc_id % 11 <> 5 AND doc_id % 13 <> 7) AS decoded
      FROM documents ORDER BY doc_id"""),

  /** Dual-lens image pair precision report ([[graft.multimodal
    * .MediaDedup.dualLensPairs]], X84's precision composition —
    * VERDICT r19 ask #6): the q154 corpus hashed ONCE per image into
    * BOTH perceptual lenses ([[graft.multimodal.MediaDedup
    * .withImageHashes]]: dHash gradient + aHash block level), banded
    * pairs at radius 3 per lens, full-outer joined with an
    * agreement class — `both` is the precision cut (re-encode and
    * unclamped-brightness dupes agree under both lenses by
    * invariance), the single-lens rows are the recall audit. The
    * oracle re-derives the shared per-pixel luma frame, BOTH cell
    * grids (dHash 9×8 uniform cells; aHash 8×8 with non-uniform
    * column widths, cross-multiplied by cell counts), both packed
    * hash families, both brute pair sets, and the outer join. */
  Query("q161_dual_lens") { (s, dir) =>
    import graft.multimodal.{MediaDedup, Multimodal}
    import s.implicits._
    val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val sd = (id % 40).toInt
        val bright = id % 5 == 2
        val sticker = id % 7 == 3
        def ch(a: Int, b: Int, c: Int, x: Int, y: Int): Int = {
          var v = (sd * a + x * b + y * c) % 248
          if (bright) v += 7
          if (sticker && x >= 14) v += 80
          math.min(v, 255)
        }
        val bmp = Multimodal.SyntheticMedia.bmp24(18, 16)((x, y) =>
          (ch(3, 7, 11, x, y), ch(5, 11, 3, x, y), ch(7, 3, 13, x, y)))
        (id, if (id % 3 == 1) MediaDedup.pngReencode(bmp) else bmp)
      }.toDF("media_id", "payload")
    MediaDedup.dualLensPairs(MediaDedup.withImageHashes(media),
        "media_id")
      .select(col("id_a"), col("id_b"), col("hdist_dhash"),
        col("hdist_ahash"), col("agreement"))
      .orderBy("id_a", "id_b")
  } (oracle =
    // Dual-lens pairs: ONE per-pixel luma frame feeds both hash
    // re-derivations — dHash over uniform 2x2 cells (sum compare),
    // aHash over (x*8)//18 columns whose widths differ, so the mean
    // comparison cross-multiplies by cell count against the global
    // sum (s*288 > st*c, the ahash64 contract verbatim) — then brute
    // pair sets per lens and a full outer join with the agreement
    // class.
    """
      WITH px AS (
        SELECT d.doc_id, x.x, y.y,
          (CASE WHEN d.doc_id % 5 = 2 THEN 7 ELSE 0 END +
           CASE WHEN d.doc_id % 7 = 3 AND x.x >= 14 THEN 80 ELSE 0 END)
            AS sh
        FROM documents d
        CROSS JOIN generate_series(0, 17) AS x(x)
        CROSS JOIN generate_series(0, 15) AS y(y)),
      pl AS (
        SELECT doc_id, x, y,
          299 * least(((doc_id % 40) * 3 + x * 7 + y * 11) % 248
              + sh, 255)
          + 587 * least(((doc_id % 40) * 5 + x * 11 + y * 3) % 248
              + sh, 255)
          + 114 * least(((doc_id % 40) * 7 + x * 3 + y * 13) % 248
              + sh, 255) AS l
        FROM px),
      dlum AS (SELECT doc_id, x // 2 AS cx, y // 2 AS cy, sum(l) AS s
        FROM pl GROUP BY 1, 2, 3),
      dbits AS (SELECT a.doc_id, (a.cy * 8 + a.cx)::INT AS bit
        FROM dlum a JOIN dlum b ON a.doc_id = b.doc_id
          AND b.cy = a.cy AND b.cx = a.cx + 1
        WHERE a.s < b.s),
      dhash AS (SELECT d.doc_id,
          coalesce(sum(CASE WHEN bit = 63
            THEN (-9223372036854775807 - 1)
            ELSE (1::BIGINT << bit) END), 0)::BIGINT AS h
        FROM documents d LEFT JOIN dbits USING (doc_id)
        GROUP BY d.doc_id),
      alum AS (SELECT doc_id, (x * 8) // 18 AS cx, y // 2 AS cy,
          sum(l) AS s, count(*) AS c
        FROM pl GROUP BY 1, 2, 3),
      atot AS (SELECT doc_id, sum(s) AS st FROM alum GROUP BY doc_id),
      abits AS (SELECT l.doc_id, (l.cy * 8 + l.cx)::INT AS bit
        FROM alum l JOIN atot t USING (doc_id)
        WHERE l.s * 288 > t.st * l.c),
      ahash AS (SELECT d.doc_id,
          coalesce(sum(CASE WHEN bit = 63
            THEN (-9223372036854775807 - 1)
            ELSE (1::BIGINT << bit) END), 0)::BIGINT AS h
        FROM documents d LEFT JOIN abits USING (doc_id)
        GROUP BY d.doc_id),
      dp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          bit_count(xor(a.h, b.h))::INT AS hdist_dhash
        FROM dhash a JOIN dhash b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.h, b.h)) <= 3),
      ap AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          bit_count(xor(a.h, b.h))::INT AS hdist_ahash
        FROM ahash a JOIN ahash b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.h, b.h)) <= 3)
      SELECT coalesce(d.id_a, a.id_a) AS id_a,
        coalesce(d.id_b, a.id_b) AS id_b,
        d.hdist_dhash, a.hdist_ahash,
        CASE WHEN d.id_a IS NOT NULL AND a.id_a IS NOT NULL THEN 'both'
             WHEN d.id_a IS NOT NULL THEN 'dhash_only'
             ELSE 'ahash_only' END AS agreement
      FROM dp d FULL OUTER JOIN ap a
        ON d.id_a = a.id_a AND d.id_b = a.id_b
      ORDER BY id_a, id_b"""),

  /** VIDEO canonicalization ([[graft.multimodal.MediaDedup
    * .canonicalMedia]] over [[graft.multimodal.MediaDedup
    * .sharedFrameVideoPairs]] — the X88 step on the modality whose
    * PAIR operator differs from images: containment counting, not
    * banded Hamming): the q158 corpus verbatim (seed piles,
    * brightness remasters, 4-frame cuts, the cross-seed intro card
    * correctly below minShared), pairs at minShared = 3, quality =
    * decoded frame count from [[graft.multimodal.MediaDedup
    * .videoDecodeAudit]] over the SAME frame-hash scan pairing uses
    * — so the full-length 6-frame master beats its 4-frame cut, min
    * id breaks ties among full-length members. The oracle re-derives
    * frames → cells → bits → shared-count pairs (the q158 chain),
    * then recursive min-reachable-id components and the
    * (n_frames DESC, id) survivor pick. */
  Query("q163_video_canonical") { (s, dir) =>
    import graft.multimodal.{MediaDedup, Multimodal}
    import s.implicits._
    val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val sd = (id % 40).toInt
        val bright = if (id % 5 == 2) 7 else 0
        val corrupt = id % 3 == 1
        val nf = if (id % 7 == 3) 4 else 6
        val avi = Multimodal.SyntheticMedia.aviDib(18, 16, nf) {
          (f, x, y) =>
            if (corrupt && f == 0) (40, 40, 40)
            else ((sd * 3 + f * 17 + x * 7 + y * 11) % 248 + bright,
                  (sd * 5 + f * 13 + x * 11 + y * 3) % 248 + bright,
                  (sd * 7 + f * 19 + x * 3 + y * 13) % 248 + bright)
        }
        (id, avi)
      }.toDF("media_id", "payload")
    val fh = MediaDedup.videoFrameHashTable(media)
      .localCheckpoint(true) // fans into pairing AND the audit
    val pairs = MediaDedup.sharedFrameVideoPairs(fh, minShared = 3)
    val nodes = MediaDedup.videoDecodeAudit(fh)
      .select(col("media_id"), col("n_frames").as("quality"))
    MediaDedup.canonicalMedia(nodes, pairs)
      .select(col("media_id").as("doc_id"), col("component"),
        col("survivor"), col("keep"), col("quality").as("n_frames"))
      .orderBy("doc_id")
  } (oracle =
    // Video canonicalization: the q158 frame-hash chain verbatim
    // (pixels -> 2x2 luma cells -> packed sign bits -> distinct
    // per-video hash sets -> shared-count pairs at minShared 3),
    // then recursive min-reachable-id components over the pair
    // edges and the (n_frames DESC, id) survivor pick. n_frames is
    // fixture arithmetic (4-frame cut at doc_id % 7 = 3, else 6) --
    // identical to what videoDecodeAudit counts off the scan, since
    // every corpus video decodes.
    """
      WITH RECURSIVE fr AS (
        SELECT doc_id,
          CASE WHEN doc_id % 7 = 3 THEN 4 ELSE 6 END AS nf
        FROM documents),
      dfr AS (
        SELECT doc_id, f.f FROM fr
        CROSS JOIN generate_series(0, 5) AS f(f) WHERE f.f < nf),
      px AS (
        SELECT d.doc_id, d.f, x.x, y.y,
          CASE WHEN d.doc_id % 3 = 1 AND d.f = 0 THEN 40
               ELSE ((d.doc_id % 40) * 3 + d.f * 17 + x.x * 7
                 + y.y * 11) % 248
                 + CASE WHEN d.doc_id % 5 = 2 THEN 7 ELSE 0 END
          END AS r,
          CASE WHEN d.doc_id % 3 = 1 AND d.f = 0 THEN 40
               ELSE ((d.doc_id % 40) * 5 + d.f * 13 + x.x * 11
                 + y.y * 3) % 248
                 + CASE WHEN d.doc_id % 5 = 2 THEN 7 ELSE 0 END
          END AS g,
          CASE WHEN d.doc_id % 3 = 1 AND d.f = 0 THEN 40
               ELSE ((d.doc_id % 40) * 7 + d.f * 19 + x.x * 3
                 + y.y * 13) % 248
                 + CASE WHEN d.doc_id % 5 = 2 THEN 7 ELSE 0 END
          END AS b
        FROM dfr d
        CROSS JOIN generate_series(0, 17) AS x(x)
        CROSS JOIN generate_series(0, 15) AS y(y)),
      lum AS (
        SELECT doc_id, f, x // 2 AS cx, y // 2 AS cy,
          sum(299 * r + 587 * g + 114 * b) AS s
        FROM px GROUP BY doc_id, f, x // 2, y // 2),
      vbits AS (
        SELECT a.doc_id, a.f, (a.cy * 8 + a.cx)::INT AS bit
        FROM lum a JOIN lum b
          ON a.doc_id = b.doc_id AND a.f = b.f AND b.cy = a.cy
          AND b.cx = a.cx + 1
        WHERE a.s < b.s),
      fhash AS (
        SELECT d.doc_id, d.f,
          coalesce(sum(CASE WHEN bit = 63
            THEN (-9223372036854775807 - 1)
            ELSE (1::BIGINT << bit) END), 0)::BIGINT AS h
        FROM dfr d LEFT JOIN vbits
          ON d.doc_id = vbits.doc_id AND d.f = vbits.f
        GROUP BY d.doc_id, d.f),
      dh AS (SELECT DISTINCT doc_id, h FROM fhash),
      pr AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM dh a JOIN dh b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 3),
      edges AS (SELECT id_a AS src, id_b AS dst FROM pr
                UNION SELECT id_b, id_a FROM pr),
      reach(id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
      comp AS (SELECT id AS doc_id, min(r) AS component
               FROM reach GROUP BY id),
      rk AS (SELECT c.doc_id, c.component, fr.nf::BIGINT AS n_frames,
          row_number() OVER (PARTITION BY c.component
            ORDER BY fr.nf DESC, c.doc_id) AS rn
        FROM comp c JOIN fr USING (doc_id)),
      sv AS (SELECT component, doc_id AS survivor FROM rk WHERE rn = 1)
      SELECT r.doc_id, r.component, s.survivor,
        (r.doc_id = s.survivor) AS keep, r.n_frames
      FROM rk r JOIN sv s USING (component)
      ORDER BY r.doc_id"""),
  )
}
