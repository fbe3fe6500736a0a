package graft.tools

import org.apache.spark.sql.functions._

import graft.multimodal.{MediaDedup, Multimodal}
import graft.tools.Smokes.{Run, Smoke}

/** The media-tier entries of [[Smokes]]: 500 synthetic documents per
  * factor, real container encode and real parser decode. */
object MediaSmokes {

  /** Σ_h C(n_h, 2) over the histogram of `hashCol` in `df`. */
  private def identicalPairs(df: org.apache.spark.sql.DataFrame,
      hashCol: String): Long =
    df.groupBy(hashCol).count()
      .agg(sum(col("count") * (col("count") - 1))).collect()(0).getLong(0) / 2

  /** The image near-dup tier (X84), q154's corpus shape: BMP/PNG
    * encode, ImageIO decode, dHash, banded pair join, with an EXACT
    * invariant: the radius-0 pair count equals Σ_h C(n_h, 2) over the
    * hash histogram (every identical-hash pair found — the pigeonhole
    * recall guarantee observed, not argued). Then canonicalization
    * (X88): pairs -> pointer-jump CC -> keep-best survivor, with two
    * EXACT invariants: one survivor per component, and ZERO pairs
    * crossing components (the CC respected every edge). Quality =
    * payload length (class-deterministic: PNG re-encodes differ from
    * raw BMPs). */
  val mediaDedup: Smoke = new Smoke("mediaDedup", 100) {
    def run(r: Run): Unit = {
      val spark = r.spark
      import spark.implicits._
      val nDocs = 500L * r.f
      val nSeeds = math.max(40L, nDocs / 100L)
      val media = spark.range(nDocs).repartition(32).as[Long].map { id =>
        val sd = (id % nSeeds).toInt
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
      val hashed = r.frame("dhash") {
        r.stage(MediaDedup.withDhash(media).select("media_id", "dhash"))
      }
      val pairs = hashed.flatMap(h => r.frame("nearDupPairs") {
        r.stage(MediaDedup.nearDupPairs(h, "media_id", "dhash", 3))
      })
      for (hashed <- hashed; pairs <- pairs) {
        val nZero = pairs.filter(col("hdist") === 0).count()
        val expectZero = identicalPairs(hashed, "dhash")
        assert(nZero == expectZero,
          s"radius-0 recall broke: $nZero found vs $expectZero identical-" +
          "hash pairs")
        val nodes = media.select(col("media_id"),
          length(col("payload")).cast("long").as("quality"))
        r.frame("canonicalMedia") {
          r.stage(MediaDedup.canonicalMedia(nodes, pairs))
        }.foreach { canon =>
          val nComp = canon.select("component").distinct().count()
          val nSurv = canon.filter(col("keep")).count()
          assert(nSurv == nComp,
            s"survivor/component mismatch: $nSurv survivors, $nComp components")
          val lab = canon.select(col("media_id"), col("component"))
          val crossing = pairs.select("id_a", "id_b")
            .join(lab.select(col("media_id").as("id_a"),
              col("component").as("ca")).hint("shuffle_hash"), "id_a")
            .join(lab.select(col("media_id").as("id_b"),
              col("component").as("cb")).hint("shuffle_hash"), "id_b")
            .filter(col("ca") =!= col("cb")).count()
          assert(crossing == 0L, s"$crossing pairs cross components")
        }
      }
    }
  }

  /** The audio (X86) and video (X87) near-dup tiers, q157/q158's
    * corpus shapes, with EXACT invariants (the [[mediaDedup]]
    * discipline):
    *   - audio: the radius-0 pair count equals Σ_h C(n_h, 2) over the
    *     hash histogram (identical-hash recall observed, not argued);
    *   - video: Σ n_shared over ALL pairs (minShared = 1) equals
    *     Σ_h C(v_h, 2) over the per-frame-hash video histogram — the
    *     double-counting identity of the shared-frame join. */
  val mediaAv: Smoke = new Smoke("mediaAv", 100) {
    def run(r: Run): Unit = {
      val spark = r.spark
      import spark.implicits._
      val nDocs = 500L * r.f
      val nSeeds = math.max(40L, nDocs / 100L)

      // ---- audio arm (q157 shape at scale)
      val wavs = spark.range(nDocs).repartition(32).as[Long].map { id =>
        val sd = (id % nSeeds).toInt
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
      val aHashed = r.frame("audioHash") {
        r.stage(MediaDedup.withAudioHash(wavs).select("media_id", "audio_hash"))
      }
      for (aHashed <- aHashed; aPairs <- r.frame("audioPairs") {
          r.stage(MediaDedup.nearDupPairs(aHashed, "media_id", "audio_hash", 3))
        }) {
        val aZero = aPairs.filter(col("hdist") === 0).count()
        val aExpect = identicalPairs(aHashed, "audio_hash")
        assert(aZero == aExpect,
          s"audio radius-0 recall broke: $aZero vs $aExpect")
      }

      // ---- video arm (q158 shape at scale)
      val avis = spark.range(nDocs).repartition(32).as[Long].map { id =>
        val sd = (id % nSeeds).toInt
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
      val fht = r.frame("videoHash") {
        r.stage(MediaDedup.videoFrameHashTable(avis))
      }
      for (fht <- fht; vPairs <- r.frame("videoPairs") {
          r.stage(MediaDedup.sharedFrameVideoPairs(fht, minShared = 1))
        }) {
        val vSharedSum = vPairs.agg(sum("n_shared")).collect()(0).getLong(0)
        // null-dhash sentinel rows (undecodable videos) are filtered by
        // the pairing path, so the expected histogram must skip them too
        // (ADVICE r20) — silent mismatch if the fixture gains any
        val vExpect = identicalPairs(fht.filter(col("dhash").isNotNull)
          .select("media_id", "dhash").distinct(), "dhash")
        assert(vSharedSum == vExpect,
          s"video shared-frame identity broke: $vSharedSum vs $vExpect")
      }
    }
  }
}
