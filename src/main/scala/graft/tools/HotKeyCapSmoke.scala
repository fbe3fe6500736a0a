package graft.tools

import org.apache.spark.sql.functions._

/** Hot-bucket proof for the r21 window-count cap rewrites (VERDICT
  * r21 ask #7): the four cap arms (ngram shingle freq, minhash band
  * freq, media band bucket, video frames-per-hash) now learn their
  * per-key counts from a `count(*) OVER (PARTITION BY key)` window on
  * the join's own exchange instead of a groupBy + pinned semi/anti
  * join. `WindowExec` buffers each partition-key GROUP (spill-backed
  * `ExternalAppendOnlyUnsafeRowArray`) before the frequency filter
  * drops it — buffer-then-drop where the old shape stream-dropped —
  * so the open scale question was: does ONE mega-hot key (≥10⁶ rows
  * in a single bucket, the exact bucket the caps exist for) complete
  * through the window shape without OOM?
  *
  * This smoke builds each pathological input DIRECTLY (one key
  * carrying the whole corpus) and asserts: (a) the operator
  * completes, (b) the cap semantics held (the hot bucket contributed
  * NOTHING — pair counts are exactly the small-bucket residue), and
  * (c) reports each arm's own spill and peak task execution memory,
  * from its `graft.obs.Meter` span, so the buffered-group cost is
  * observable, not guessed. OOM/failure = smoke red.
  *
  * Run: `sbt 'runMain graft.tools.HotKeyCapSmoke [nHot]'`
  * (default nHot = 1,000,000 rows in the hot key).
  */
object HotKeyCapSmoke {
  def main(args: Array[String]): Unit = {
    val nHot = args.headOption.map(_.toLong).getOrElse(1000000L)
    val spark = graft.GraftSession()
    val meter = graft.obs.Meter.on(spark)
    def arm(name: String)(f: => (Long, Long)): Unit = {
      val ((got, expect), r) = meter.span(name)(f)
      val ok = got == expect
      println(f"""{"arm":"$name","rows_hot":$nHot,"pairs":$got,""" +
        f""""expect":$expect,"ok":$ok,"sec":${r.wallS}%.1f,""" +
        f""""spill_mem_mb":${r.spillMemBytes >> 20},""" +
        f""""spill_disk_mb":${r.spillDiskBytes >> 20},""" +
        f""""peak_exec_mb":${r.peakExecBytes >> 20}}""")
      require(ok, s"$name: pair count $got != expected $expect")
    }

    // 1. ngramJaccardPairs(maxShingleFreq): every doc shares the
    //    3-shingle "hot hot hot" (one bucket = the whole corpus);
    //    each doc's second shingle is unique (singleton-pruned). The
    //    hot shingle's window group is nHot rows; cap 1000 drops it.
    //    Expected pairs: 0.
    arm("ngram_shingle_cap") {
      val docs = spark.range(nHot).select(col("id").as("doc_id"),
        concat(lit("hot hot hot u"), col("id").cast("string"))
          .as("text"))
      (graft.text.DedupOps.ngramJaccardPairs(docs, "doc_id", "text",
        3, 0.1, maxShingleFreq = 1000L).count(), 0L)
    }

    // 2. minhashCandidatePairs(maxBandFreq): identical text ⇒ every
    //    doc lands in the SAME four band buckets (each nHot rows);
    //    cap 1000 drops all four. Expected pairs: 0.
    arm("minhash_band_cap") {
      val docs = spark.range(nHot).select(col("id").as("doc_id"),
        lit("alpha beta gamma delta epsilon zeta").as("text"))
      (graft.text.DedupOps.minhashCandidatePairs(docs, "doc_id",
        "text", 3, 4, 2, maxBandFreq = 1000L).count(), 0L)
    }

    // 3. MediaDedup.nearDupPairs(maxBucket) over a pre-hashed frame
    //    (the cap guards the DISTINCT-signature band join; no decode
    //    needed to exercise it): 5 bits of the id land in each of the
    //    four 16-bit band words (a bijection for id < 2^20, so every
    //    signature is DISTINCT), giving every band exactly 32 keys ×
    //    ~nHot/32 distinct signatures — ALL four bands are hot and the
    //    cap drops every bucket, so no hash pair survives banding and
    //    the diagonal contributes nothing (one member per hash ⇒
    //    ia < ib never holds). Expected pairs: 0.
    arm("media_bucket_cap") {
      require(nHot <= (1L << 20),
        "media arm uses a 20-bit id→band bijection")
      val id = col("id")
      val h = (id % 32) +
        (shiftright(id, 5) % 32) * 65536L +
        (shiftright(id, 10) % 32) * 4294967296L +
        (shiftright(id, 15) % 32) * 281474976710656L
      val hashed = spark.range(nHot)
        .select(col("id").as("media_id"), h.as("dhash"))
      (graft.multimodal.MediaDedup.nearDupPairs(hashed, "media_id",
        "dhash", 3, maxBucket = 1000L).count(), 0L)
    }

    // 4. sharedFrameVideoPairs(maxVideosPerHash): nHot videos share
    //    frame hash 0 (one nHot-row group through the window) and
    //    each also has a unique second frame (cap-surviving
    //    singleton hashes that can never pair). Expected pairs: 0.
    arm("video_hash_cap") {
      val fh = spark.range(nHot).select(col("id").as("media_id"),
          lit(0).as("frame_idx"), lit(0L).as("dhash"))
        .unionAll(spark.range(nHot).select(col("id").as("media_id"),
          lit(1).as("frame_idx"), (col("id") + 1000000000L).as("dhash")))
      (graft.multimodal.MediaDedup.sharedFrameVideoPairs(fh,
        minShared = 1, maxVideosPerHash = 1000L).count(), 0L)
    }

    println(s"""{"smoke":"HotKeyCapSmoke","status":"green"}""")
    spark.stop()
  }
}
