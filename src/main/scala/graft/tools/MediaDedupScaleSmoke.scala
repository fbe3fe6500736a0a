package graft.tools

import org.apache.spark.sql.functions._

/** Factor-scale smoke for the image near-dup tier (X84): q154's
  * corpus shape at `factor`× — real BMP/PNG encode, real ImageIO
  * decode, dHash, banded pair join — with an EXACT invariant
  * asserted at scale: the radius-0 pair count must equal
  * Σ_h C(n_h, 2) over the hash histogram (every identical-hash pair
  * found — the pigeonhole recall guarantee observed, not argued).
  * Usage: `runMain graft.tools.MediaDedupScaleSmoke [factor]`
  * (default 100 → 50k images). */
object MediaDedupScaleSmoke {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(100)
    val nDocs = 500L * factor
    val nSeeds = math.max(40L, nDocs / 100L)
    val spark = graft.GraftSession()
    import spark.implicits._
    import graft.multimodal.{MediaDedup, Multimodal}

    val t0 = System.nanoTime()
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
    val hashed = MediaDedup.withDhash(media)
      .select("media_id", "dhash")
      .localCheckpoint(true)
    val tHash = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val pairs = MediaDedup.nearDupPairs(hashed, "media_id", "dhash", 3)
      .localCheckpoint(true)
    val nPairs = pairs.count()
    val tPairs = (System.nanoTime() - t1) / 1e9
    val nZero = pairs.filter(col("hdist") === 0).count()
    val expectZero = hashed.groupBy("dhash").count()
      .agg(sum(col("count") * (col("count") - 1))).collect()(0)
      .getLong(0) / 2
    assert(nZero == expectZero,
      s"radius-0 recall broke: $nZero found vs $expectZero identical-" +
      "hash pairs")
    println(f"[smoke] f=$factor docs=$nDocs seeds=$nSeeds " +
      f"hash=${tHash}%.1f s pairs=${tPairs}%.1f s " +
      f"n_pairs=$nPairs n_zero=$nZero (exact)")

    // Canonicalization at scale (X88): pairs -> pointer-jump CC ->
    // keep-best survivor, with two EXACT invariants: one survivor
    // per component, and ZERO pairs crossing components (the CC
    // respected every edge — recall of the canonical step observed,
    // not argued). Quality = payload length (class-deterministic:
    // PNG re-encodes differ from raw BMPs).
    val t2 = System.nanoTime()
    val nodes = media.select(col("media_id"),
      length(col("payload")).cast("long").as("quality"))
    val canon = MediaDedup.canonicalMedia(nodes, pairs)
      .localCheckpoint(true)
    val tCanon = (System.nanoTime() - t2) / 1e9
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
    println(f"[smoke] canonical=${tCanon}%.1f s components=$nComp " +
      f"survivors=$nSurv crossing=0 (exact)")
    spark.stop()
  }
}
