package graft.tools

import org.apache.spark.sql.functions._

/** Factor-scale smoke for the audio (X86) and video (X87) near-dup
  * tiers — q157/q158's corpus shapes at `factor`×, real container
  * encode + real parser decode, with EXACT invariants asserted at
  * scale (the MediaDedupScaleSmoke discipline):
  *   - audio: the radius-0 pair count equals Σ_h C(n_h, 2) over the
  *     hash histogram (identical-hash recall observed, not argued);
  *   - video: Σ n_shared over ALL pairs (minShared = 1) equals
  *     Σ_h C(v_h, 2) over the per-frame-hash video histogram — the
  *     double-counting identity of the shared-frame join.
  * Usage: `runMain graft.tools.MediaAvScaleSmoke [factor]`
  * (default 100 → 50k WAVs + 50k AVIs). */
object MediaAvScaleSmoke {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(100)
    val nDocs = 500L * factor
    val nSeeds = math.max(40L, nDocs / 100L)
    val spark = graft.GraftSession()
    import spark.implicits._
    import graft.multimodal.{MediaDedup, Multimodal}

    // ---- audio arm (q157 shape at scale)
    val tA0 = System.nanoTime()
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
    val aHashed = MediaDedup.withAudioHash(wavs)
      .select("media_id", "audio_hash").localCheckpoint(true)
    val tAHash = (System.nanoTime() - tA0) / 1e9
    val tA1 = System.nanoTime()
    val aPairs = MediaDedup.nearDupPairs(aHashed, "media_id",
      "audio_hash", 3).localCheckpoint(true)
    val nAPairs = aPairs.count()
    val tAPairs = (System.nanoTime() - tA1) / 1e9
    val aZero = aPairs.filter(col("hdist") === 0).count()
    val aExpect = aHashed.groupBy("audio_hash").count()
      .agg(sum(col("count") * (col("count") - 1))).collect()(0)
      .getLong(0) / 2
    assert(aZero == aExpect,
      s"audio radius-0 recall broke: $aZero vs $aExpect")

    // ---- video arm (q158 shape at scale)
    val tV0 = System.nanoTime()
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
    val fht = MediaDedup.videoFrameHashTable(avis).localCheckpoint(true)
    val tVHash = (System.nanoTime() - tV0) / 1e9
    val tV1 = System.nanoTime()
    val vPairs = MediaDedup.sharedFrameVideoPairs(fht, minShared = 1)
      .localCheckpoint(true)
    val nVPairs = vPairs.count()
    val tVPairs = (System.nanoTime() - tV1) / 1e9
    val vSharedSum = vPairs.agg(sum("n_shared")).collect()(0).getLong(0)
    // null-dhash sentinel rows (undecodable videos) are filtered by
    // the pairing path, so the expected histogram must skip them too
    // (ADVICE r20) — silent mismatch if the fixture gains any
    val vExpect = fht.filter(col("dhash").isNotNull)
      .select("media_id", "dhash").distinct()
      .groupBy("dhash").count()
      .agg(sum(col("count") * (col("count") - 1))).collect()(0)
      .getLong(0) / 2
    assert(vSharedSum == vExpect,
      s"video shared-frame identity broke: $vSharedSum vs $vExpect")

    println(f"[smoke] f=$factor docs=$nDocs seeds=$nSeeds " +
      f"audio_hash=${tAHash}%.1f s audio_pairs=${tAPairs}%.1f s " +
      f"(n=$nAPairs, zero=$aZero exact) " +
      f"video_hash=${tVHash}%.1f s video_pairs=${tVPairs}%.1f s " +
      f"(n=$nVPairs, shared_sum=$vSharedSum exact)")
    spark.stop()
  }
}
