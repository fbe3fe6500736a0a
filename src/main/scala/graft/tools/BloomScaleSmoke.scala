package graft.tools

import org.apache.spark.sql.functions._

/** Factor smoke for the Bloom contamination pre-screen (X78): at
  * factor N over the sf `documents` table, compare
  *
  *   (a) DIRECT exact check — every corpus shingle through the
  *       corpus↔eval join (the shape the pre-screen replaces), vs
  *   (b) Bloom pre-screen — the plan-constant word-table membership
  *       expression on the scan, exact join on survivors only,
  *
  * with identical per-doc exact-hit results (asserted, not assumed).
  * Reports wall seconds and shuffle volume per shape — the number
  * that matters at 100 TB is (b)'s join input collapsing from every
  * shingle to the survivor sliver while the scan stays narrow.
  *
  * Usage: `runMain graft.tools.BloomScaleSmoke [sfDir] [factor]`
  * (defaults `/root/testdata/sf0.1`, 100). */
object BloomScaleSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(100)
    val spark = graft.GraftSession()
    val meter = graft.obs.Meter.on(spark)
    import graft.text.{SketchOps, TextOps}

    val mBits = 1 << 18
    // eval set: the UNAMPLIFIED docs < 25 (a realistic eval is tiny
    // next to the corpus); corpus: the amplified rest, copy-marked so
    // cross-copy shingles never collide (only copy 0 can contaminate)
    val raw = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    def docShingles = explode(graft.functions.MinhashKernel
      .distinctShingles(TextOps.tokens(col("text")), 3)).as("shingle")
    val eval = raw.filter(col("doc_id") < 25)
      .select(docShingles).distinct()
      .localCheckpoint(true)
    val corpus = raw.filter(col("doc_id") >= 25)
      .withColumn("copy", explode(sequence(lit(0), lit(factor - 1))))
      .select((col("doc_id") * factor + col("copy")).as("doc_id"),
        when(col("copy") === 0, col("text")).otherwise(
          expr("regexp_replace(regexp_replace(lower(text), " +
            "'[^a-z0-9]+', ' '), '([a-z0-9]+)', '$1q' || copy)"))
          .as("text"))
      .localCheckpoint(true)
    val nDocs = corpus.count()
    val shingled = corpus.select(col("doc_id"), docShingles)

    def timed(tag: String)(mk: => Array[(Long, Long)]): Array[(Long, Long)] = {
      val (out, r) = meter.span(tag)(mk)
      println(f"""{"smoke":"bloom_$tag%s","factor":$factor,""" +
        f""""docs":$nDocs,"sec":${r.wallS}%.1f,"hit_docs":${out.length},""" +
        f""""shuf_write_mb":${r.shuffleWriteBytes >> 20}}""")
      out
    }

    lazy val words = SketchOps.bloomWords(eval, "shingle", mBits)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def run(pre: Boolean, shuffleJoin: Boolean): Array[(Long, Long)] = {
      val base = if (pre) shingled.filter(
        SketchOps.bloomMightContain(col("shingle"), words, mBits))
      else shingled
      val ev = if (shuffleJoin) eval.hint("shuffle_hash")
      else broadcast(eval)
      base.join(ev, Seq("shingle"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    }
    // broadcastable-eval arms: the pre-screen is NOT expected to win
    // here (a broadcast semi-join is already a narrow hash probe)
    val a = timed("direct_bcast") { run(pre = false, shuffleJoin = false) }
    val b = timed("prescreen_bcast") { run(pre = true, shuffleJoin = false) }
    // big-eval arms (shuffle join, the shape a non-broadcastable eval
    // forces): the pre-screen's job is collapsing the corpus side of
    // THIS exchange to the survivor sliver
    val c = timed("direct_shuffle") { run(pre = false, shuffleJoin = true) }
    val d = timed("prescreen_shuffle") { run(pre = true, shuffleJoin = true) }
    println(s"""{"smoke":"bloom_parity","equal":${
      a.toSeq == b.toSeq && a.toSeq == c.toSeq && a.toSeq == d.toSeq}}""")
    spark.stop()
  }
}
