package graft.tools

import org.apache.spark.sql.functions._

/** Factor smoke for the batch sketch family (VERDICT r17 ask #5):
  * [[graft.text.SketchOps.hllTokenRegisters]] (X76) and
  * [[graft.text.SketchOps.cmTokenCells]] (X77) at factor 1 vs factor
  * N over the sf `documents` table, recording what the scaladoc
  * CLAIMS but BloomScaleSmoke never measured — that the aggregate's
  * exchange is CONSTANT in corpus size: the map-side combine caps the
  * partial rows at groups·m·tasks (input partition count pinned
  * across factors so the cap is comparable). "Constant" means
  * BOUNDED-WITH-SATURATION, not flat: a small corpus sits under the
  * cap (f1 here writes ~5k partial rows against a 786k cap), a big
  * one saturates toward it and then STOPS growing while the token
  * stream keeps growing linearly — the plateau is the measurement.
  *
  * Expectations asserted, not just recorded:
  *   - output rows ≤ groups·m (HLL) / groups·rows·m (CM) and shuffle
  *     partial rows ≤ groups·m·tasks (·rows for CM) at EVERY factor;
  *   - the plateau: across the top decade (factor/10 → factor) the
  *     token stream grows 10× but shuffle partial rows grow ≤ 3×
  *     (both points in the saturation regime at the f1000 default);
  *   - exchange COUNT factor-invariant (plan shape is scale-free).
  *
  * Amplification is the [[VocabFertilitySmoke]] recipe: per-token
  * copy markers keep texts realistic while cross-copy tokens never
  * collide — the hardest case for a distinct-counter (the distinct
  * universe really is N× bigger).
  *
  * Usage: `runMain graft.tools.SketchScaleSmoke [sfDir] [factor]`
  * (defaults `/root/testdata/sf0.1`, 1000).
  */
object SketchScaleSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(1000)
    val spark = graft.GraftSession()
    val meter = graft.obs.Meter.on(spark)
    import graft.text.SketchOps

    val nPart = spark.sessionState.conf.numShufflePartitions
    def amplified(f: Int) = spark.read
      .parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang", "text")
      .withColumn("copy", explode(sequence(lit(0), lit(f - 1))))
      .select((col("doc_id") * f + col("copy")).as("doc_id"),
        col("lang"),
        expr("regexp_replace(regexp_replace(lower(text), " +
          "'[^a-z0-9]+', ' '), '([a-z0-9]+)', '$1q' || copy)")
          .as("text"))
      .repartition(nPart) // pin input tasks so the partial-row bound
      .localCheckpoint(true) // is comparable across factors

    final case class R(op: String, f: Int, sec: Double, rows: Long,
      exch: Int, wMb: Double, wRecs: Long)
    val readings = scala.collection.mutable.ArrayBuffer.empty[R]
    val groups = 6L // 5 langs + '' — fixture property, asserted below

    Seq(1, factor / 10 max 2, factor).foreach { f =>
      val docs = amplified(f)
      val nDocs = docs.count()
      val nGroups = docs.select(coalesce(col("lang"), lit("")))
        .distinct().count()
      assert(nGroups <= groups, s"fixture drifted: $nGroups langs")
      println(s"""{"factor":$f,"docs":$nDocs}""")
      def run(op: String, mk: => org.apache.spark.sql.DataFrame,
          maxRows: Long, maxPartials: Long): Unit = {
        val ((df, rows), m) = meter.span(op) {
          val df = mk
          (df, df.count())
        }
        val exch = graft.obs.Census.of(df.queryExecution.executedPlan).exchanges
        val partials = m.shuffleWriteRecords
        assert(rows <= maxRows, s"$op: $rows rows > saturation $maxRows")
        assert(partials <= maxPartials,
          s"$op: $partials shuffle rows > cap $maxPartials")
        val r = R(op, f, m.wallS, rows, exch,
          m.shuffleWriteBytes / 1048576.0, partials)
        readings += r
        println(f"""{"op":"$op","factor":$f,"sec":${r.sec}%.1f,""" +
          f""""rows":$rows,"exchanges":$exch,""" +
          f""""shuf_write_mb":${r.wMb}%.2f,"shuf_write_rows":$partials,""" +
          f""""cap_rows":$maxPartials}""")
      }
      run("hll", SketchOps.hllTokenRegisters(docs, "text", "lang"),
        groups * 4096, groups * 4096 * nPart)
      run("cm", SketchOps.cmTokenCells(docs, "text", "lang"),
        groups * 4 * 4096, groups * 4 * 4096 * nPart)
    }

    // the scale claims, asserted across factors
    for (op <- Seq("hll", "cm")) {
      val Seq(_, mid, big) = readings.filter(_.op == op).toSeq
      assert(mid.exch == big.exch,
        s"$op: exchange count drifted ${mid.exch} -> ${big.exch}")
      // the plateau: 10x the tokens, <= 3x the partial rows (both
      // points sit in the saturation regime at these corpus sizes)
      assert(big.wRecs <= mid.wRecs * 3,
        s"$op: shuffle rows grew ${mid.wRecs} -> ${big.wRecs} over a " +
        s"${big.f / mid.f}x data step — NOT saturating")
      println(f"""{"op":"$op","claim":"exchange_bounded_saturating",""" +
        f""""f${mid.f}%d_rows":${mid.wRecs},"f${big.f}%d_rows":${big.wRecs},""" +
        f""""data_step":${big.f / mid.f},"ok":true}""")
    }
    spark.stop()
  }
}
