package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A/B smoke for the SemDeDup mega-cluster pair guard
  * ([[graft.sim.SemDedup.pairKeys]]) on a synthetic quantizer-collapse
  * panel: the sf0.1 `embeddings` table amplified N× (sign-flip
  * decorrelation per copy, the [[SimScaleSmoke]] recipe) and
  * deliberately quantized with ONE centroid (`centroidStride` = corpus
  * size) — the purest form of "the data defeated the quantizer": every
  * row lands in one coarse cluster, so the pair stage is the full
  * n·(n−1)/2 quadratic on a single merge-join key (one task, no
  * parallelism — the failure VERDICT_r17 flagged as 10¹⁸ pairs at a
  * 100 TB boilerplate mode).
  *
  * Arms:
  *   - `guard_off`: `maxPairsPerCluster = 0` — today's unguarded path.
  *   - `guard_on`: budget 2M pairs — [[graft.sim.SemDedup.pairKeys]]
  *     sub-splits the collapsed cluster until every key fits.
  *
  * Besides wall/shuffle/exchange evidence, asserts the guard's
  * semantic containment invariant: splitting only REMOVES candidate
  * pairs, components only get finer, and the argmin exemplar of an
  * old component stays the argmin of its new sub-component — so the
  * guard-off keep-set must be a SUBSET of the guard-on keep-set.
  *
  * Usage: `runMain graft.tools.SemSkewSmoke [sfDir] [factor]
  * [guardOnly]` (defaults `/root/testdata/sf0.1`, 10, false). Pass
  * `guardOnly=true` at factors where the UNGUARDED arm is
  * computationally infeasible (f100 = 2×10¹⁰ pairs on one join key)
  * — the point of the guard is precisely that the guarded arm still
  * completes there, so the smoke records it alone.
  */
object SemSkewSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = graft.GraftSession()
    val meter = graft.obs.Meter.on(spark)

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
      .withColumn("copy", explode(sequence(lit(0), lit(factor - 1))))
      .select((col("vec_id") * factor + col("copy")).as("vec_id"),
        when(col("copy") === 0, col("embedding")).otherwise(
          expr("transform(embedding, (x, i) -> " +
            "x * cast(1 - 2 * pmod(hash(copy, i), 2) as float))"))
          .as("embedding"))
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .localCheckpoint(eager = true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val n = emb.count()
    println(s"""{"panel":"quantizer_collapse","rows":$n,"factor":$factor,""" +
      s""""pairs_unguarded":${n * (n - 1) / 2}}""")

    def arm(name: String, budget: Long): Set[Long] = {
      val ((kept, comps), r) = meter.span(name) {
        val out = graft.sim.SemDedup.semDedup(emb, 0.5,
            centroidStride = n, maxPairsPerCluster = budget)
          .localCheckpoint(eager = true)
        (out.filter(col("keep")).select("id")
          .collect().map(_.getLong(0)).toSet,
          out.select("component").distinct().count())
      }
      println(f"""{"arm":"$name","sec":${r.wallS}%.1f,"kept":${kept.size},""" +
        f""""components":$comps,""" +
        f""""shuf_write_mb":${r.shuffleWriteBytes >> 20},""" +
        f""""shuf_read_mb":${r.shuffleReadBytes >> 20},""" +
        f""""cpu_sec":${r.cpuS}%.1f}""")
      kept
    }

    val guardOnly = args.lift(2).exists(_.toBoolean)
    val keptOn = arm("guard_on", 2000000L)
    if (!guardOnly) {
      val keptOff = arm("guard_off", 0L)
      val missing = keptOff -- keptOn
      assert(missing.isEmpty,
        s"containment violated: ${missing.size} guard-off exemplars " +
        s"absent from the guard-on keep-set (e.g. ${missing.take(5)})")
      println(s"""{"containment":"ok","kept_off":${keptOff.size},""" +
        s""""kept_on":${keptOn.size}}""")
    }
    spark.stop()
  }
}
