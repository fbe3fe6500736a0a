package graft.sim

import org.apache.spark.sql.functions._

import graft.operators.Materialize

/** Factor-scale A/B for the SDC pair stage's lower-bound rescore
  * skip (VERDICT r18 ask #5): a pile corpus whose subspace slices
  * are drawn from exactly k per-subspace prototypes — the codebook
  * captures them exactly (recon error 0), so the error sandwich is
  * TIGHT: every in-pile pair is `sure` (rescore skipped) and every
  * cross-pile pair is rejected by the upper bound. The OFF arm (the
  * default path) rescores every admitted pair through the two
  * vector-fetch joins; the ON arm (`lowerBoundSkip`) rides them as
  * no-fetch rows. Outputs are asserted bit-identical.
  *
  * This is the corpus family the opt-in skip exists for —
  * duplication-heavy piles under a codebook that resolves them —
  * complementing the q113 census (BENCH_NOTES "r19: SDC lower-bound
  * rescore skip"), where a noisy
  * corpus keeps recon error at O(‖v‖) and the band never certifies.
  * The r19 measurement matrix (BENCH_NOTES) is why the skip stays
  * opt-in: on page-cache shuffle the payload cut it buys is free
  * anyway.
  *
  * Usage: `runMain graft.sim.SemLbSmoke [factor]` (default 50). */
object SemLbSmoke {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(50)
    val spark = graft.GraftSession()
    import spark.implicits._

    val m = 4; val k = 16; val dsub = 16
    val nPiles = 64; val pileSize = 8 * factor
    def proto(s: Int, j: Int): Seq[Double] =
      (0 until dsub).map(t => (((j * 7 + s * 3 + t * 5) % 13) - 6).toDouble)
    // rows 0..15 enumerate prototype j across every subspace — the
    // pqTrain seed (first k ids) IS the prototype codebook, so
    // recon error is exactly 0 for every row from iteration 0.
    val enumRows = (0 until k).map(j =>
      (j.toLong, (0 until m).flatMap(s => proto(s, j))))
    val pileRows = (0 until nPiles).flatMap { g =>
      val v = (0 until m).flatMap(s => proto(s, (g * (2 * s + 3) + s) % k))
      (0 until pileSize).map(r => ((k + g * pileSize + r).toLong, v))
    }
    val df = Materialize.checkpoint(
      (enumRows ++ pileRows).toDF("vec_id", "embedding").repartition(32))
    val n = df.count()

    def arm(lbSkip: Boolean): (Double, Long, Long) = {
      val t0 = System.nanoTime()
      val out = SemDedup.run(df, 0.99, numCentroids = 16,
          idCol = "vec_id", vecCol = "embedding", roundScale = 6,
          centroidStride = 0L, pq = Some((m, k, 1)),
          pairBudget = SemDedup.DefaultPairBudget, lbSkip = lbSkip)
        .agg(count(lit(1)), sum(when(col("keep"), 1L).otherwise(0L)))
        .collect()(0)
      ((System.nanoTime() - t0) / 1e9, out.getLong(1), out.getLong(0))
    }
    // warm both plans once at tiny scale semantics via the real corpus
    val (tOn1, kOn1, nOn1) = arm(lbSkip = true)
    val (tOff1, kOff1, nOff1) = arm(lbSkip = false)
    val (tOn, kOn, nOn) = arm(lbSkip = true)
    val (tOff, kOff, nOff) = arm(lbSkip = false)
    assert(nOn == n && nOff == n, s"row loss: $nOn/$nOff vs $n")
    assert(kOn == kOff && kOn1 == kOff1,
      s"keep-count parity broke: $kOn vs $kOff")
    // full bit-parity of the audit frame
    val a = SemDedup.run(df, 0.99, 16, "vec_id", "embedding", 6, 0L,
      Some((m, k, 1)), SemDedup.DefaultPairBudget, lbSkip = true)
      .orderBy("id").collect().toSeq
    val b = SemDedup.run(df, 0.99, 16, "vec_id", "embedding", 6, 0L,
      Some((m, k, 1)), SemDedup.DefaultPairBudget, lbSkip = false)
      .orderBy("id").collect().toSeq
    assert(a == b, "arm outputs differ")
    println(f"[smoke] f=$factor n=$n piles=$nPiles keep=$kOn " +
      f"lb_on=${tOn}%.1f s (warm1 ${tOn1}%.1f) " +
      f"lb_off=${tOff}%.1f s (warm1 ${tOff1}%.1f) parity=ok")
    spark.stop()
  }
}
