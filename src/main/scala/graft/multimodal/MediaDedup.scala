package graft.multimodal

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{BucketPairs, Materialize}

/** Image NEAR-duplicate tier (VERDICT r18 ask #1) — the gap between
  * byte-exact media fingerprints and embedding SemDeDup: a 64-bit
  * difference hash ("dHash", the public perceptual-hash family à la
  * Krawetz's "Kind of Like That", 2013; same gradient idea as
  * pHash/blockhash surveys) over the REAL decoder, wired into the
  * engine's existing Hamming retrieval machinery.
  *
  * Why dHash for the 100 TB curation pass: crop-resistant enough for
  * re-encode/resize/brightness dupes (the dominant web-image dup
  * classes), 64 bits per image (a billion images = 8 GB of
  * signatures — broadcastable shards), pure integer arithmetic end
  * to end, and ranking/pairing is `bit_count(xor)` — the same
  * engine-portable kernel as [[graft.sim.HammingOps]] / SimHash.
  *
  * Integer-exact contract (the oracle replays it verbatim over the
  * seed-arithmetic [[Multimodal.SyntheticMedia.bmp24]] fixtures):
  *   - luma = 299·R + 587·G + 114·B (BT.601 coefficients ×1000,
  *     exact ints in 0..255000 — no float grayscale);
  *   - pixel (x, y) of a W×H image belongs to grid cell
  *     (x·9 div W, y·8 div H) — the 9×8 box partition (W ≥ 9,
  *     H ≥ 8 guarantees every cell nonempty: consecutive cell
  *     indices step by < 1);
  *   - row-adjacent cells compare by MEAN luma via cross-multiplied
  *     integer sums: left < right ⟺ sumL·nR < sumR·nL — exact, no
  *     division (boxes may differ by one pixel column/row when
  *     9 ∤ W or 8 ∤ H); safe for any image up to ~10⁹ px;
  *   - bit (cy·8 + cx) of the signature is set iff cell (cx, cy) <
  *     cell (cx+1, cy), cx ∈ 0..7, cy ∈ 0..7 — 64 comparisons in
  *     ONE signed BIGINT (bit 63 is the sign bit; xor/bit_count are
  *     two's-complement-identical in Spark and DuckDB).
  *
  * Decode is [[javax.imageio.ImageIO]] (PNG/BMP/GIF/JPEG, no
  * external library — the [[Multimodal.MediaDecoder.ImageIo]]
  * codec); undecodable or sub-grid payloads hash to NULL and join
  * no pair (the poison-row convention — one bad row must not kill a
  * corpus pass, and dedup must not silently eat undecodable rows).
  *
  * Pairing is the rotated-table pigeonhole scheme the engine already
  * uses for 64-bit SimHash ([[graft.text.DedupOps.simhashPairs64]],
  * Manku et al. WWW'07): a pair within Hamming radius ≤ 3 must agree
  * exactly on one of the four 16-bit words, so the band equi-join
  * finds every such pair with NO recall loss, at O(n²/2¹⁶) per band
  * instead of the corpus cross join. Consumers needing top-k instead
  * of pairs feed the same signatures to
  * [[graft.sim.HammingOps.hammingTopK]]-style ranking.
  *
  * Reference scope: the reference pipeline has no image operators;
  * extends the multimodal family per the build brief's training-data
  * mandate (text: 4 dedup tiers; embeddings: SemDeDup; images: this
  * + the byte-exact fingerprint). */
object MediaDedup {

  /** 64-bit difference hash of a decoded image; null (boxed) when
    * the image is smaller than the 9×8 grid. The 64 cross-
    * multiplied comparisons run in BigInt: a JVM long multiply
    * wraps SILENTLY (no ANSI throw), and sum·count exceeds 2⁶³
    * around a gigapixel — a wrong hash beats a refusal only if it's
    * never wrong. Pixel accumulation stays long (exact to ~7×10¹³
    * px). */
  def dhash64(img: java.awt.image.BufferedImage): java.lang.Long = {
    val w = img.getWidth; val h = img.getHeight
    if (w < 9 || h < 8) return null
    val sums = Array.ofDim[Long](8, 9)
    val counts = Array.ofDim[Long](8, 9)
    var y = 0
    while (y < h) {
      val cy = (y.toLong * 8 / h).toInt
      var x = 0
      while (x < w) {
        val cx = (x.toLong * 9 / w).toInt
        val rgb = img.getRGB(x, y)
        sums(cy)(cx) += 299L * ((rgb >> 16) & 0xff) +
          587L * ((rgb >> 8) & 0xff) + 114L * (rgb & 0xff)
        counts(cy)(cx) += 1
        x += 1
      }
      y += 1
    }
    packGradientBits(sums, counts)
  }

  /** Shared dHash bit packing: bit (cy·8+cx) set iff cell (cx,cy)'s
    * mean < cell (cx+1,cy)'s, cross-multiplied in BigInt. */
  private def packGradientBits(sums: Array[Array[Long]],
      counts: Array[Array[Long]]): Long = {
    var sig = 0L
    var cy = 0
    while (cy < 8) {
      var cx = 0
      while (cx < 8) {
        if (BigInt(sums(cy)(cx)) * counts(cy)(cx + 1) <
            BigInt(sums(cy)(cx + 1)) * counts(cy)(cx))
          sig |= 1L << (cy * 8 + cx)
        cx += 1
      }
      cy += 1
    }
    sig
  }

  /** 64-bit average hash ("aHash" — the other classic of the
    * perceptual family): 8×8 grid cells (x·8 div W, y·8 div H), bit
    * (cy·8 + cx) set iff the cell's mean luma EXCEEDS the global
    * mean — cross-multiplied exactly like [[dhash64]]
    * (sum_cell·n_total > sum_total·n_cell, compared in BigInt so no
    * image size can overflow; the oracle's HUGEINT sums replay it).
    * Same luma, same null conventions (needs W ≥ 8, H ≥ 8). A
    * complementary lens to dHash: aHash keys on absolute block
    * level, dHash on horizontal gradient — and like dHash it is
    * invariant to an unclamped global brightness shift (adding c to
    * every pixel adds c·n_cell·n_total to BOTH sides of each
    * comparison; spec-pinned). */
  def ahash64(img: java.awt.image.BufferedImage): java.lang.Long = {
    val w = img.getWidth; val h = img.getHeight
    if (w < 8 || h < 8) return null
    val sums = Array.ofDim[Long](8, 8)
    val counts = Array.ofDim[Long](8, 8)
    var total = 0L
    var y = 0
    while (y < h) {
      val cy = (y.toLong * 8 / h).toInt
      var x = 0
      while (x < w) {
        val cx = (x.toLong * 8 / w).toInt
        val rgb = img.getRGB(x, y)
        val lum = 299L * ((rgb >> 16) & 0xff) +
          587L * ((rgb >> 8) & 0xff) + 114L * (rgb & 0xff)
        sums(cy)(cx) += lum; counts(cy)(cx) += 1; total += lum
        x += 1
      }
      y += 1
    }
    val nTot = BigInt(w.toLong * h)
    val totB = BigInt(total)
    var sig = 0L
    var cy = 0
    while (cy < 8) {
      var cx = 0
      while (cx < 8) {
        if (BigInt(sums(cy)(cx)) * nTot > totB * counts(cy)(cx))
          sig |= 1L << (cy * 8 + cx)
        cx += 1
      }
      cy += 1
    }
    sig
  }

  /** 64-bit audio fingerprint — the dHash idea on the time axis
    * (energy-gradient hashing, the integer-exact cousin of the
    * spectral fingerprints à la Haitsma–Kalker 2002): the REAL
    * `javax.sound.sampled` parser decodes 16-bit signed PCM
    * (channel 0, the [[Multimodal.MediaDecoder.AudioIo]]
    * convention), samples partition into 65 equal frames
    * (i·65 div n), each frame's energy is the exact Σ|s|, and bit f
    * is set iff frame f's MEAN energy < frame f+1's —
    * cross-multiplied by frame sizes in BigInt (frames differ ±1
    * sample when 65 ∤ n), so the whole chain is integer arithmetic
    * an oracle replays over a sample grid. Invariant by
    * construction to exact amplitude scaling (|k·s| = k·|s|
    * cancels in the cross-multiplication — the loudness-normalized
    * re-master class, spec-pinned). Needs ≥ 65 samples; anything
    * undecodable, non-16-bit-PCM, or shorter hashes NULL. */
  def audioHash64(payload: Array[Byte]): java.lang.Long = {
    val in =
      try javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException =>
          return null
        case _: java.io.IOException => return null
      }
    try {
      val fmt = in.getFormat
      if (fmt.getSampleSizeInBits != 16 || fmt.getEncoding !=
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
        return null
      val frameBytes = fmt.getFrameSize
      // readAllBytes can surface IOException AFTER a successful
      // stream open (truncated payload body), and parser plugins can
      // throw RuntimeExceptions on malformed frames — same NonFatal
      // one-bad-row convention as [[decodeImg]] (ADVICE r19).
      val bytes = in.readAllBytes()
      val n = bytes.length / frameBytes
      if (n < 65) return null
      val e = new Array[Long](65)
      val c = new Array[Long](65)
      var i = 0
      while (i < n) {
        val off = i * frameBytes // channel 0
        val lo = bytes(off) & 0xff
        val hi = bytes(off + 1)
        val s = if (fmt.isBigEndian) ((lo << 8) | (hi & 0xff)).toShort.toInt
                else ((hi << 8) | lo).toShort.toInt
        val f = (i.toLong * 65 / n).toInt
        e(f) += math.abs(s.toLong); c(f) += 1
        i += 1
      }
      var sig = 0L
      var f = 0
      while (f < 64) {
        if (BigInt(e(f)) * c(f + 1) < BigInt(e(f + 1)) * c(f))
          sig |= 1L << f
        f += 1
      }
      sig
    } catch {
      case scala.util.control.NonFatal(_) => null
    } finally in.close()
  }

  /** Add an `audio_hash` column — [[audioHash64]] under the
    * [[withDhash]] batch shape and null conventions. */
  def withAudioHash(df: DataFrame, payloadCol: String = "payload",
      outCol: String = "audio_hash"): DataFrame =
    withHashCol(df, payloadCol, outCol)(audioHash64)

  /** Per-frame dHash table for AVI/DIB video payloads (X87 — the
    * video tier of the near-dup matrix): the same hand-rolled RIFF
    * walk as [[Multimodal.MediaDecoder.AviDib]] (uncompressed
    * 24-bit BGR "NNdb" frames, bottom-up rows padded to 4 bytes),
    * each `frameStride`-th frame hashed by the [[dhash64]] contract
    * straight off the raw rows — no BufferedImage, no codec.
    * Returns (frameIndex, dhash) pairs in frame order; null for
    * non-AVI / non-DIB / sub-grid / truncated payloads (poison-row
    * convention). MJPEG and other codecs are NOT hashed here — a
    * lossy decode is not oracle-replayable; MJPEG-in-AVI routes
    * through [[videoFrameDhashesMjpeg]] (spec-tier, same per-frame
    * contract over the DECODED pixels). */
  /** Parsed AVI container layout: stream format fields plus every
    * frame chunk's (offset, size) in file order. */
  private final case class AviLayout(width: Int, height: Int,
      bitCount: Int, comp: String, frames: Array[(Int, Int)])

  /** ONE RIFF/AVI chunk walk shared by the DIB and MJPEG hash
    * routes (the same grammar as
    * [[Multimodal.MediaDecoder.AviDib]]): recursive descent
    * collecting the first strf's BITMAPINFOHEADER fields and every
    * "NNdb"/"NNdc" frame chunk; truncated/oversized chunk headers
    * stop the walk (never read past the payload). Null for
    * non-RIFF/non-AVI payloads. */
  private def aviLayout(payload: Array[Byte]): AviLayout = {
    def fourcc(b: Array[Byte], off: Int): String =
      if (off + 4 <= b.length)
        new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
      else ""
    def le32(b: Array[Byte], off: Int): Int =
      (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)
    if (payload == null || payload.length < 12 ||
        fourcc(payload, 0) != "RIFF" || fourcc(payload, 8) != "AVI ")
      return null
    var width = 0; var height = 0; var bitCount = 0; var comp = ""
    val frames = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    def walk(start: Int, end: Int): Unit = {
      var p = start
      while (p + 8 <= end) {
        val id = fourcc(payload, p)
        val sz = le32(payload, p + 4)
        // bound computed in Long (ADVICE r20): a crafted chunk size
        // near 2^31 wraps the Int sum negative, bypasses the guard,
        // and sends p negative into fourcc / the DIB pixel loop
        if (sz < 0 || p + 8L + sz > end) return
        if (id == "LIST" && sz >= 4) walk(p + 12, p + 8 + sz)
        else if (id == "strf" && sz >= 40 && bitCount == 0) {
          width = le32(payload, p + 8 + 4)
          height = le32(payload, p + 8 + 8)
          bitCount = le32(payload, p + 8 + 14) & 0xffff
          comp = if (le32(payload, p + 8 + 16) == 0) "RGB"
                 else fourcc(payload, p + 8 + 16)
        } else if (id.length == 4 &&
            (id.endsWith("db") || id.endsWith("dc")))
          frames += ((p + 8, sz))
        // p + 8 + sz <= end proven above, so only the odd-size pad
        // can step past end — advance in Long and stop if it does
        val nextP = p + 8L + sz + (sz & 1)
        if (nextP > end) return
        p = nextP.toInt
      }
    }
    walk(12, math.min(payload.length, 8 + le32(payload, 4)))
    AviLayout(width, height, bitCount, comp, frames.toArray)
  }

  def videoFrameDhashes(payload: Array[Byte], frameStride: Int = 1)
      : Array[(Int, Long)] = {
    require(frameStride >= 1, s"frameStride=$frameStride")
    val lay = aviLayout(payload)
    if (lay == null) return null
    val width = lay.width; val height = lay.height
    val frames = lay.frames
    if (frames.isEmpty || width < 9 || height < 8 ||
        lay.bitCount != 24 || lay.comp != "RGB")
      return null
    // row stride sized in Long (ADVICE r19): a header declaring huge
    // dims (e.g. 20000x40000) wraps the Int product negative, the
    // corrupt-frame guard below then passes vacuously and the pixel
    // loop reads past the payload. No frame chunk can hold a frame
    // this big (sz is an Int), so refuse before any multiply wraps.
    val rowBytesL = (width.toLong * 3 + 3) & ~3L
    if (rowBytesL * height > Int.MaxValue) return null
    val rowBytes = rowBytesL.toInt
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    var f = 0
    while (f < frames.length) {
      if (f % frameStride == 0) {
        val (off, sz) = frames(f)
        if (sz < rowBytes * height) return null // corrupt frame
        val sums = Array.ofDim[Long](8, 9)
        val counts = Array.ofDim[Long](8, 9)
        var y = 0
        while (y < height) {
          val cy = (y.toLong * 8 / height).toInt
          val rowOff = off + (height - 1 - y) * rowBytes // bottom-up
          var x = 0
          while (x < width) {
            val cx = (x.toLong * 9 / width).toInt
            val p = rowOff + x * 3
            sums(cy)(cx) += 299L * (payload(p + 2) & 0xff) +
              587L * (payload(p + 1) & 0xff) + 114L * (payload(p) & 0xff)
            counts(cy)(cx) += 1
            x += 1
          }
          y += 1
        }
        out += ((f, packGradientBits(sums, counts)))
      }
      f += 1
    }
    out.toArray
  }

  /** Per-frame dHash for MJPEG-in-AVI payloads (VERDICT r19 ask #7
    * — the fallback route [[videoFrameDhashes]] documents): the SAME
    * RIFF walk, but the stream must declare biCompression 'MJPG'
    * and each sampled frame chunk — a complete JPEG — decodes via
    * ImageIO and hashes by the [[dhash64]] contract, so a frame's
    * hash here is by construction [[dhash64Bytes]] of the standalone
    * JPEG bytes (spec-pinned). SPEC-TIER ONLY: a JPEG decode is
    * deterministic for a given JDK decoder but not an arithmetic
    * contract a DuckDB oracle can replay, so frame HASHES from this
    * route are never oracle-pinned — container fields (dims, frame
    * counts) are, via [[Multimodal.MediaDecoder.AviDib]]'s feature
    * path. Null for non-AVI, non-MJPG compression (DIB payloads
    * route through [[videoFrameDhashes]]), or any sampled frame
    * that fails to decode or is sub-grid — the whole-video refusal
    * matching the DIB route's corrupt-frame semantics, so a
    * half-hashed video never silently pairs on its decodable
    * prefix. Only sampled frames pay the JPEG decode. */
  def videoFrameDhashesMjpeg(payload: Array[Byte],
      frameStride: Int = 1): Array[(Int, Long)] = {
    require(frameStride >= 1, s"frameStride=$frameStride")
    val lay = aviLayout(payload)
    if (lay == null || lay.frames.isEmpty || lay.comp != "MJPG")
      return null
    javax.imageio.ImageIO.setUseCache(false)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    var f = 0
    while (f < lay.frames.length) {
      if (f % frameStride == 0) {
        val (off, sz) = lay.frames(f)
        val img =
          try javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(payload, off, sz))
          catch { case scala.util.control.NonFatal(_) => null }
        if (img == null) return null
        val h = dhash64(img)
        if (h == null) return null // sub-grid frame
        out += ((f, h.longValue))
      }
      f += 1
    }
    out.toArray
  }

  /** Frame-hash table: (idCol, frame_idx, dhash) — one row per
    * sampled frame, per-partition batch shape, payload bytes never
    * shuffled. An undecodable video (null payload, non-AVI/DIB,
    * truncated, MJPEG) contributes ONE sentinel row with null
    * frame_idx/dhash — the poison-row convention (VERDICT r19 ask
    * #3): a corpus pass reads its decode-failure rate off the same
    * scan via [[videoDecodeAudit]] instead of paying a second decode
    * pass, and pairing ([[sharedFrameVideoPairs]]) filters the
    * sentinels before banding. */
  def videoFrameHashTable(df: DataFrame, idCol: String = "media_id",
      payloadCol: String = "payload", frameStride: Int = 1,
      codec: String = "dib"): DataFrame = {
    // codec picks the kernel: "dib" is the oracle-replayable default
    // (q158/q160); "mjpeg" is the spec-tier JPEG-frame route — same
    // table shape, sentinel and pairing semantics, never oracle-
    // pinned (see [[videoFrameDhashesMjpeg]]).
    val kernel: (Array[Byte], Int) => Array[(Int, Long)] =
      codec match {
        case "dib"   => videoFrameDhashes(_, _)
        case "mjpeg" => videoFrameDhashesMjpeg(_, _)
        case other => throw new IllegalArgumentException(
          s"videoFrameHashTable codec must be dib|mjpeg: $other")
      }
    val outSchema = StructType(Seq(
      StructField("id", LongType), StructField("frame_idx", IntegerType),
      StructField("dhash", LongType)))
    implicit val enc: Encoder[Row] = Encoders.row(outSchema)
    val pIdx = df.schema.fieldIndex(payloadCol)
    val iIdx = df.schema.fieldIndex(idCol)
    df.mapPartitions { it =>
      it.flatMap { r =>
        val payload = r.getAs[Array[Byte]](pIdx)
        val hs = if (payload == null) null
                 else kernel(payload, frameStride)
        val id = r.getAs[Number](iIdx).longValue
        if (hs == null) Iterator.single(Row(id, null, null))
        else hs.iterator.map { case (f, h) => Row(id, f, h) }
      }
    }.withColumnRenamed("id", idCol)
  }

  /** Decode-verdict audit over a [[videoFrameHashTable]] output
    * (VERDICT r19 ask #3): per video, how many frames hashed —
    * (idCol, n_frames, decoded), n_frames = 0 and decoded = false
    * for undecodable payloads (their sentinel row carries a null
    * hash; a decodable AVI always hashes ≥ 1 frame since stride
    * sampling includes frame 0). One map-side-combinable aggregation
    * over the hash table the pair stage already scans — the corpus
    * decode-failure rate costs no second decode pass. */
  def videoDecodeAudit(frameHashes: DataFrame,
      idCol: String = "media_id", hashCol: String = "dhash")
      : DataFrame =
    frameHashes
      .groupBy(col(idCol))
      .agg(count(col(hashCol)).cast("long").as("n_frames"))
      .withColumn("decoded", col("n_frames") > 0L)

  /** Video near-dup pairs by shared frame signatures: two videos
    * pair when ≥ `minShared` DISTINCT frame dhashes coincide
    * exactly — the shot-level containment test (a re-encode,
    * brightness remaster, or frame-dropped cut shares most frame
    * hashes; unrelated videos share none). One merge-pinned
    * equi-join on the frame hash over per-video DISTINCT hash sets
    * (a video repeating a frame counts it once), then a count
    * cut — output-sized, no quadratic beyond genuinely shared
    * hashes. Boilerplate frames (intro cards, black frames) shared
    * by THOUSANDS of videos make a hash bucket quadratic: cap them
    * with `maxVideosPerHash` (hashes above the cap are DROPPED
    * from pairing — the q107/shingle-cap trade, documented not
    * silent: a dropped hash can only lower n_shared, and the
    * dropped (hash, n_videos) rows are enumerable as a report frame
    * via [[sharedFrameHotHashes]]). 0 = off. */
  def sharedFrameVideoPairs(frameHashes: DataFrame, minShared: Int = 1,
      idCol: String = "media_id", hashCol: String = "dhash",
      maxVideosPerHash: Long = 0L): DataFrame = {
    require(minShared >= 1, s"minShared=$minShared")
    BucketPairs(frameBuckets(frameHashes, idCol, hashCol), Seq("h"),
        Some(maxVideosPerHash).filter(_ > 0L),
        stage = Materialize.checkpoint(_))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  private def decodeImg(payload: Array[Byte])
      : java.awt.image.BufferedImage = {
    javax.imageio.ImageIO.setUseCache(false)
    // NonFatal, not just IOException (ADVICE r19): ImageIO plugins
    // throw RuntimeExceptions (IllegalArgument, ArrayIndexOutOfBounds,
    // NegativeArraySize) on malformed real-world payloads — the
    // one-bad-row convention means every decode failure is a null,
    // never a dead corpus pass.
    try javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload))
    catch { case scala.util.control.NonFatal(_) => null }
  }

  /** Decode-and-hash: ImageIO over the payload bytes (in-memory
    * cache — the [[Multimodal.MediaDecoder.ImageIo]] tmpfs lesson),
    * null on any decode failure. */
  def dhash64Bytes(payload: Array[Byte]): java.lang.Long = {
    val img = decodeImg(payload)
    if (img == null) null else dhash64(img)
  }

  /** [[ahash64]] over payload bytes; null on decode failure. */
  def ahash64Bytes(payload: Array[Byte]): java.lang.Long = {
    val img = decodeImg(payload)
    if (img == null) null else ahash64(img)
  }

  /** Lossless PNG re-encode of any decodable payload (fixture/test
    * helper for the re-encoded-near-duplicate class: different
    * bytes, identical pixels, identical dHash). Throws on
    * undecodable input — fixtures are constructed, not scavenged. */
  def pngReencode(payload: Array[Byte]): Array[Byte] = {
    javax.imageio.ImageIO.setUseCache(false)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload))
    require(img != null, "pngReencode: undecodable payload")
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def withHashCol(df: DataFrame, payloadCol: String,
      outCol: String)(kernel: Array[Byte] => java.lang.Long)
      : DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField(outCol, LongType, nullable = true))
    implicit val enc: Encoder[Row] = Encoders.row(outSchema)
    val pIdx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { it =>
      it.map { r =>
        val payload = r.getAs[Array[Byte]](pIdx)
        val hash = if (payload == null) null else kernel(payload)
        Row.fromSeq(r.toSeq :+ hash)
      }
    }
  }

  /** Lossy ImageIO JPEG re-encode of any decodable payload (fixture
    * helper for [[Multimodal.headerMeta]]'s JPEG walk): the
    * CONTAINER structure and SOF dims are deterministic — which is
    * all a header sniff reads — while pixel content is codec-
    * dependent and never oracle-pinned. */
  def jpegReencode(payload: Array[Byte]): Array[Byte] = {
    javax.imageio.ImageIO.setUseCache(false)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload))
    require(img != null, "jpegReencode: undecodable payload")
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** Add a `dhash` column: one decoder per partition, payload bytes
    * never shuffled (the [[Multimodal.extractFeatures]] batch
    * shape). Null payloads and undecodable images get null. */
  def withDhash(df: DataFrame, payloadCol: String = "payload",
      outCol: String = "dhash"): DataFrame =
    withHashCol(df, payloadCol, outCol)(dhash64Bytes)

  /** Add an `ahash` column — [[ahash64]] under the same batch
    * shape and null conventions as [[withDhash]]. */
  def withAhash(df: DataFrame, payloadCol: String = "payload",
      outCol: String = "ahash"): DataFrame =
    withHashCol(df, payloadCol, outCol)(ahash64Bytes)

  /** Add BOTH perceptual hashes from ONE decode: at corpus scale the
    * ImageIO decode dominates the per-row cost (the hash loops are
    * linear integer passes), so a dual-lens pass must not pay it
    * twice. Same batch shape and null conventions as [[withDhash]];
    * a sub-grid image can be dHash-null (needs W ≥ 9) while
    * aHash-hashable (W ≥ 8) — the nulls stay per-lens. */
  def withImageHashes(df: DataFrame, payloadCol: String = "payload",
      dhashCol: String = "dhash", ahashCol: String = "ahash")
      : DataFrame = {
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField(dhashCol, LongType, nullable = true),
      StructField(ahashCol, LongType, nullable = true)))
    implicit val enc: Encoder[Row] = Encoders.row(outSchema)
    val pIdx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { it =>
      it.map { r =>
        val payload = r.getAs[Array[Byte]](pIdx)
        val img = if (payload == null) null else decodeImg(payload)
        Row.fromSeq(r.toSeq ++ Seq(
          if (img == null) null else dhash64(img),
          if (img == null) null else ahash64(img)))
      }
    }
  }

  /** Dual-lens pair precision report (VERDICT r19 ask #6): the two
    * perceptual lenses key on DIFFERENT structure — dHash on
    * horizontal gradient, aHash on absolute block level vs the
    * global mean — so their pair-set intersection is the standard
    * precision move (a true re-encode/brightness dupe agrees under
    * both; a gradient coincidence between unrelated images rarely
    * also agrees on block levels). One full-outer merge-pinned join
    * over the two banded pair sets (each output-sized by the
    * [[nearDupPairs]] scale argument; both corpus-derived, so no
    * broadcast): (id_a, id_b, hdist_dhash, hdist_ahash, agreement)
    * with agreement ∈ both | dhash_only | ahash_only — consumers cut
    * at `agreement = 'both'` for precision or keep the single-lens
    * rows as the recall audit. */
  def dualLensPairs(hashed: DataFrame, idCol: String = "media_id",
      dhashCol: String = "dhash", ahashCol: String = "ahash",
      maxHamming: Int = 3): DataFrame = {
    // Stage the NARROW (id, dhash, ahash) projection once (r22,
    // guide §1.2/§8): each per-lens nearDupPairs call below eagerly
    // checkpoints its own (id, h) slice, and without this stage each
    // of those materializations re-ran the whole upstream pipeline —
    // for a [[withImageHashes]] input that is a second full decode
    // pass over the media corpus (the one-decode guarantee the dual
    // kernel exists for, defeated one call downstream). Payload
    // bytes never enter the checkpoint: three longs per row.
    val slim = Materialize.checkpoint(
      hashed.select(col(idCol), col(dhashCol), col(ahashCol)))
    val dp = nearDupPairs(slim, idCol, dhashCol, maxHamming)
      .withColumnRenamed("hdist", "hdist_dhash")
    val ap = nearDupPairs(slim, idCol, ahashCol, maxHamming)
      .withColumnRenamed("hdist", "hdist_ahash")
    dp.join(ap.hint("merge"), Seq("id_a", "id_b"), "full_outer")
      .withColumn("agreement",
        when(col("hdist_dhash").isNotNull &&
             col("hdist_ahash").isNotNull, "both")
        .when(col("hdist_dhash").isNotNull, "dhash_only")
        .otherwise("ahash_only"))
  }

  /** Near-duplicate pairs within Hamming radius ≤ `maxHamming` (≤ 3
    * — the 4-band pigeonhole guarantee) over a hashed frame:
    * (id_a, id_b, hdist), id_a < id_b, null hashes excluded.
    *
    * Scale shape — distinct-signature collapse BEFORE the
    * quadratic: image corpora are duplication-heavy (that is the
    * point of this tier), and running the band join over members
    * would put every identical-hash pile into the same band buckets
    * — O(pile²) in-bucket work per band for pairs we already know
    * are distance 0 (measured: 113 s at the f100 smoke, vs 8 s
    * collapsed). Instead: (1) the banded merge-pinned self-join
    * runs over DISTINCT signatures only (quadratic in distinct
    * hashes, not rows); (2) distance-0 pairs ride the expansion as
    * diagonal (h, h) hash pairs (output-sized by definition — the
    * separate member self-join this replaced cost two more
    * exchanges+sorts of the member table on the same hash key); (3)
    * cross-hash pairs expand back through two shuffle-hash-pinned
    * membership joins (also output-sized). The result is EXACTLY
    * the member-level pair set the direct band join yields
    * (spec-pinned against brute force; the f100 smoke asserts the
    * radius-0 count equals the hash-histogram pair count). */
  def nearDupPairs(hashed: DataFrame, idCol: String = "media_id",
      hashCol: String = "dhash", maxHamming: Int = 3,
      maxBucket: Long = 0L): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"nearDupPairs guarantees recall only for radius <= 3 over 4 " +
      s"bands (pigeonhole); got $maxHamming")
    val sh0 = hashed
      .filter(col(hashCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        col(hashCol).cast("long").as("h"))
    // The membership slice feeds three consumers (both expansion
    // sides + the distinct below), so a pipeline input (the usual
    // decode chain) is eagerly checkpointed — ONE decode pass. When
    // the input is ALREADY a materialized leaf (a checkpoint/cached
    // frame: q159's fused meta, dualLensPairs' staged hashes),
    // lineage is cut and each consumer's recompute is a cast+filter
    // over resident blocks — a second checkpoint there is a pure
    // job + storage tax (r22, guide §5 cache-only-when-reused).
    val sh = if (materializedLeaf(hashed)) sh0
      else Materialize.checkpoint(sh0)
    val dh = Materialize.checkpoint(sh.select("h").distinct())
    // Optional oversize-bucket cap (the LSH/q107 discipline): a
    // (band, word) bucket holding > maxBucket DISTINCT signatures
    // is quadratic in it — on near-degenerate corpora (the
    // MediaAvScaleSmoke finding) a handful of hot 16-bit words can
    // carry most of the work. Dropping a bucket loses ONLY pairs
    // whose every other agreeing band is also dropped — one-sided
    // recall reduction, documented not silent: the dropped (band,
    // key, n) rows are a first-class report frame,
    // [[nearDupDroppedBuckets]], sharing this exact grouping. 0 =
    // off (the exact pigeonhole contract; q154/q157 run uncapped).
    // distinct-hash pairs within the radius (hdist ≥ 1: ha < hb).
    // The radius filter runs BEFORE the multi-band dedup aggregate
    // (r22, guide §2.3 shuffle-fewer-bytes): hdist is a pure function
    // of (ha, hb), so every band-copy of a pair carries the same
    // value and min(hdist) == hdist — the groupBy is only a dedup of
    // multi-band hits, and far pairs (most band collisions) can die
    // before the aggregate's hash table and exchange instead of
    // after it. Result set unchanged.
    val hp = BucketPairs(bandExplode(dh), Seq("band", "key"),
        Some(maxBucket).filter(_ > 0L), id = "h")
      .select(col("a.h").as("ha"), col("b.h").as("hb"),
        bit_count(col("a.h").bitwiseXOR(col("b.h"))).cast("int")
          .as("hdist"))
      .filter(col("hdist") <= maxHamming)
      .groupBy("ha", "hb").agg(min("hdist").as("hdist"))
    // Distance-0 pairs ride the SAME expansion joins as diagonal
    // (h, h) hash pairs over the distinct-signature frame (r21):
    // the member table previously paid a separate merge-pinned
    // self-join on the hash — two more exchanges+sorts of sh on the
    // very key the expansion joins below already shuffle it on. The
    // diagonal filter keeps each identical-hash pair once (ia < ib);
    // cross-hash rows are unaffected (ha ≠ hb ⇒ ia ≠ ib, since a
    // member carries exactly one hash).
    val hp2 = hp.unionByName(dh.select(col("h").as("ha"),
      col("h").as("hb"), lit(0).cast("int").as("hdist")))
    // expansion joins: corpus-derived membership sides stay pinned
    val ma = sh.select(col("h").as("ha"), col("id").as("ia"))
    val mb = sh.select(col("h").as("hb"), col("id").as("ib"))
    hp2.join(ma.hint("shuffle_hash"), "ha")
      .join(mb.hint("shuffle_hash"), "hb")
      .filter(col("ha") =!= col("hb") || col("ia") < col("ib"))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("hdist"))
  }

  /** Media near-dup CANONICALIZATION (VERDICT r19 ask #1): close the
    * pair-list → survivor-set gap so every modality ends where text
    * dedup ends ([[graft.text.DedupOps.fuzzyDedupDocsBest]]:
    * candidates → verify → components → keep-best). `pairs` is any
    * (id_a, id_b) near-dup pair frame — [[nearDupPairs]] output for
    * images/audio, [[sharedFrameVideoPairs]] for video (after its
    * own minShared cut); `nodes` carries every media id plus a
    * per-item `quality` column the survivor policy maximises —
    * largest resolution (`meta_width * meta_height` from
    * [[Multimodal.headerMeta]], no pixel decode), longest audio
    * duration, most video frames ([[videoDecodeAudit]]'s n_frames),
    * whatever the curation pass values. Smallest id wins ties, so
    * the survivor is total-order deterministic.
    *
    * Scale shape — the [[graft.text.DedupOps.fuzzyDedupDocsBest]]
    * discipline verbatim: components from the engine's adaptive
    * pointer-jump CC (edge-sliver-sized state, O(log diameter)
    * rounds); the survivor is a `first()` window over the component
    * key restricted to the LABELED SLIVER (r22, guide §2.3): only
    * edge-endpoint items can live in a multi-member component (CC's
    * `markLabeled` invariant), so only they exchange on the
    * component key — an unpaired item is its own survivor through a
    * zero-shuffle projection branch. The groupBy(component) +
    * component-keyed join-back this replaced exchanged the WHOLE
    * corpus twice to decide survivors that are trivially `id`
    * everywhere off the near-dup sliver. The labeled frame fans into
    * both branches, so it is eagerly serialized-checkpointed.
    *
    * Returns every item: (idCol, component, survivor, keep, quality)
    * with component = min reachable id, keep ⇔ id == survivor. */
  def canonicalMedia(nodes: DataFrame, pairs: DataFrame,
      idCol: String = "media_id", qualityCol: String = "quality")
      : DataFrame = {
    val q = nodes.select(col(idCol).cast("long").as(idCol),
      col(qualityCol).cast("long").as("quality"))
    // quality rides the CC relabel join as a pass-through column
    // (r21): the shuffle_hash join of the labeled frame back onto the
    // quality projection this replaced was a second corpus-sized
    // exchange pair on the same id key the relabel already joins on.
    val labeled = Materialize.checkpoint(
      graft.text.DedupOps.connectedComponents(
        q.select(col(idCol).as("id"), col("quality")),
        pairs.select(col("id_a").cast("long").as("id_a"),
          col("id_b").cast("long").as("id_b")),
        markLabeled = true)
      .withColumnRenamed("id", idCol))
    // first over (quality DESC NULLS LAST, id ASC): highest quality,
    // then SMALLEST id among equals — a total order (ids are unique),
    // bit-identical to the max_by lexicographic (quality, -id) pick
    // this replaced (null quality sorts below any value both ways).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("component")
      .orderBy(col("quality").desc_nulls_last, col(idCol).asc)
    val clustered = labeled.filter(col("__labeled"))
      .withColumn("survivor", first(col(idCol)).over(w))
    val singles = labeled.filter(!col("__labeled"))
      .withColumn("survivor", col(idCol))
    clustered.unionByName(singles)
      .select(col(idCol), col("component"), col("survivor"),
        (col(idCol) === col("survivor")).as("keep"), col("quality"))
  }

  /** True iff `df` is a bare materialized leaf — a local/localCheckpoint
    * RDD, a cached relation, or a literal local table — i.e. lineage
    * is already cut and per-consumer recompute reads resident blocks.
    * STRICT on purpose: any operator above the leaf (even a Project —
    * a fused decode kernel could live there) disqualifies, so the
    * only checkpoints ever skipped are provably redundant ones. */
  private def materializedLeaf(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan match {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
        => true
      case r => r.getClass.getSimpleName == "InMemoryRelation"
    }

  /** The distinct (id, h) frame-hash buckets — ONE definition shared
    * by [[sharedFrameVideoPairs]]' join and [[sharedFrameHotHashes]]'
    * report. Undecodable-video sentinels (null hashes) are dropped,
    * and a video repeating a frame counts once. */
  private def frameBuckets(frameHashes: DataFrame, idCol: String,
      hashCol: String): DataFrame =
    frameHashes
      .filter(col(hashCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        col(hashCol).cast("long").as("h"))
      .distinct()

  /** The 4x16-bit rotated-band explosion over a distinct-signature
    * frame — ONE definition shared by [[nearDupPairs]]'s band join
    * and [[nearDupDroppedBuckets]]'s report, so what the report says
    * was dropped is by construction what the cap dropped. */
  private def bandExplode(dh: DataFrame): DataFrame =
    dh.select(col("h"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col("h"), b * 16)
              .bitwiseAND(lit(0xFFFFL)).as("key"))): _*)).as("bk"))
      .select(col("h"), col("bk.band").as("band"),
        col("bk.key").as("key"))

  /** Cap-drop REPORT for [[nearDupPairs]]`(maxBucket)` (VERDICT r19
    * ask #5 — drops must be data, not a re-derivation): the (band,
    * key, n_hashes) rows the cap would remove, i.e. every band
    * bucket holding more than `maxBucket` DISTINCT signatures. A
    * 100 TB curation run logs this frame next to the pair output so
    * its recall loss is quantified in-band: a dropped bucket loses
    * only pairs whose every other agreeing band is also dropped
    * (one-sided, see the cap comment in [[nearDupPairs]]), and
    * n_hashes bounds the candidate pairs forgone at n·(n−1)/2.
    * Grouping is the same [[bandExplode]] the pair path uses —
    * distinct signatures, not members — so the counts match the cap
    * decision exactly. */
  def nearDupDroppedBuckets(hashed: DataFrame,
      idCol: String = "media_id", hashCol: String = "dhash",
      maxBucket: Long = 0L): DataFrame = {
    require(maxBucket > 0L,
      s"nearDupDroppedBuckets reports an active cap; got $maxBucket")
    val dh = hashed
      .filter(col(hashCol).isNotNull)
      .select(col(hashCol).cast("long").as("h"))
      .distinct()
    BucketPairs.hot(bandExplode(dh), Seq("band", "key"), maxBucket)
      .withColumnRenamed("n", "n_hashes")
  }

  /** Cap-drop REPORT for [[sharedFrameVideoPairs]]
    * `(maxVideosPerHash)`: the (`hashCol`, n_videos) rows the
    * boilerplate-frame cap removes — every frame hash carried by
    * more than `maxVideosPerHash` distinct videos. Counting is over
    * the same distinct (video, hash) collapse the pair path uses (a
    * video repeating a frame counts once), so the report equals the
    * cap decision; a dropped hash can only lower n_shared, and this
    * frame is the evidence of by-how-much-at-most (n_videos choose 2
    * pair memberships forgone per hash). */
  def sharedFrameHotHashes(frameHashes: DataFrame,
      idCol: String = "media_id", hashCol: String = "dhash",
      maxVideosPerHash: Long = 0L): DataFrame = {
    require(maxVideosPerHash > 0L,
      s"sharedFrameHotHashes reports an active cap; got " +
      s"$maxVideosPerHash")
    BucketPairs.hot(frameBuckets(frameHashes, idCol, hashCol), Seq("h"),
        maxVideosPerHash)
      .select(col("h").as(hashCol), col("n").as("n_videos"))
  }
}
