package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{FileInfo, TableMeta, VariableMeta}
import graft.functions.Conversions
import graft.operators.JoinOps
import graft.pipeline.{L1Pipeline, MergeLegality}
import graft.pipeline.L1Pipeline.Conditioned

/** Factor smoke for the FULL L1 lifecycle (E1 — the reference's
  * flagship path, the q61 composition): condition (subset+rename →
  * exact dedup → dup-timestamp drop → regularize) on two overlapping
  * "files", J2 legality gate, vertical concat with master precedence,
  * horizontal time merge with a second table, unit conversion,
  * plausibility mask, QC flags, end-of-interval year labeling, and
  * the YEAR-PARTITIONED lake write. The text/sim chains all had
  * factor-100 evidence; this records the same for the ETL spine.
  *
  * Amplification axis: YEARS of half-hourly record (the axis a flux
  * network actually grows on — more sites × longer records; sites
  * are independent jobs, so years-per-job is the in-job dimension).
  * Factor f = f years of 17,520 half-hourly rows per source table,
  * synthesized deterministically from `spark.range` (value = a fixed
  * function of the tick, ~6% implausible so the mask has work, 25%
  * duplicate rows injected so dedup has work, candidate file
  * overlapping the master by 30 days at coarser precision so
  * precedence is visible).
  *
  * Evidence recorded per factor: wall seconds per phase (condition+
  * legality / concat+merge+convert+mask+QC / partitioned write),
  * the planned Exchange count and join strategies of the merged frame
  * ([[graft.obs.Census]] of the plan before it runs), rows written,
  * years written, shuffle MiB (whole MiB, so a sub-MiB phase reads 0)
  * and GC seconds. It records; it asserts nothing. Legality's actions
  * are bounded: interval inference is a two-row collect, the
  * new-dates probe a count.
  *
  * The exchange count is NOT factor-invariant today: it reads 5 at
  * factor 1 and 4 at factor 100. The merged frame plans two joins.
  * The J3 merge (`JoinOps.mergeOnTime`) is pinned `shuffle_hash`
  * and reads shj at both factors. The second table's A1 grid join
  * (`TimeSeriesOps.regularize`'s unhinted `grid.join(df, ..., "left")`)
  * is a broadcast hash join at factor 1, where the conditioned side's
  * size estimate is under the auto-broadcast threshold, and a
  * sort-merge join at factor 100.
  *
  * Usage: `runMain graft.tools.L1ScaleSmoke [factor] [outDir]`
  * (defaults 100, java.io.tmpdir/graft_l1smoke).
  */
object L1ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(100)
    val outRoot = args.lift(1).getOrElse(
      s"${System.getProperty("java.io.tmpdir")}/graft_l1smoke")
    val spark = graft.GraftSession()
    val meter = graft.obs.Meter.on(spark)

    val step = 1800L // half-hourly, the reference's native interval
    val yearTicks = 365L * 48
    val base = java.time.Instant.parse("2000-01-01T00:00:00Z")
      .getEpochSecond

    /** Deterministic half-hourly source frame over [from, until)
      * ticks: value a fixed function of the tick. Ta_raw in Kelvin
      * with ~6% of rows outside the plausible window; n_raw a count. */
    def src(fromTick: Long, untilTick: Long, digits: Int): DataFrame = {
      val p = math.pow(10.0, digits)
      spark.range(fromTick, untilTick)
        .select(
          timestamp_seconds(lit(base) + col("id") * step).as("hour_ts"),
          (floor((lit(24.0) + pmod(col("id") * 37, lit(107))
            + when(pmod(col("id"), lit(17)) === 0, 900.0).otherwise(0.0))
            * p + 0.5) / p).as("Ta_raw"),
          pmod(col("id"), lit(60)).cast("long").as("n_raw"))
    }

    def timed[A](label: String, f: Int)(body: => A): A = {
      val (out, r) = meter.span(label)(body)
      println(f"""{"phase":"$label","factor":$f,"sec":${r.wallS}%.1f,""" +
        f""""shuf_write_mb":${r.shuffleWriteBytes >> 20},""" +
        f""""shuf_read_mb":${r.shuffleReadBytes >> 20},""" +
        f""""gc_sec":${r.gcS}%.1f}""")
      out
    }

    Seq(1, factor).foreach { f =>
      val ticks = yearTicks * f
      val metaA = TableMeta(FileInfo.dummy, Seq(
        VariableMeta("Ta_raw", "K", "Avg",
          plausibleMin = Some(-250.0), plausibleMax = Some(-150.0)),
        VariableMeta("n_raw", "n", "Tot")))
      val usecolsA = Map("Ta_raw" -> "Ta", "n_raw" -> "n_samp")
      // master: [0, 60% of span) at 6 digits + 25% injected dup rows
      val cutA = ticks * 3 / 5
      val rawA1 = src(0, cutA, 6)
      val fileA1 = rawA1.unionAll(
        rawA1.filter(pmod(hour(col("hour_ts")), lit(4)) === 0))
      // candidate: overlaps master by 30 days, 5 digits
      val rawA2 = src(cutA - 30 * 48, ticks, 5)

      val (tableA, rep) = timed("condition+legality", f) {
        def ckpt(c: Conditioned): Conditioned =
          c.copy(df = c.df.localCheckpoint(eager = true,
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
        val condA1 = ckpt(L1Pipeline.condition(
          Conditioned(fileA1, metaA), "hour_ts", step, usecolsA))
        val condA2 = ckpt(L1Pipeline.condition(
          Conditioned(rawA2, metaA), "hour_ts", step, usecolsA))
        val rep = MergeLegality.analyse(
          condA1.df, condA1.meta, condA2.df, condA2.meta, "hour_ts")
        require(rep.legal, s"fixture must be a legal concat: $rep")
        (Conditioned(
          JoinOps.concatWithPrecedence(Seq(condA1.df, condA2.df),
            Seq("hour_ts")),
          condA1.meta), rep)
      }

      // second table: RH in fraction units over the back 70% of span
      val rawB = src(ticks * 3 / 10, ticks, 6)
        .select(col("hour_ts"),
          (pmod(col("n_raw") * 7, lit(100)) / 100.0).as("RH_raw"))
      val condB = L1Pipeline.condition(
        Conditioned(rawB, TableMeta(FileInfo.dummy,
          Seq(VariableMeta("RH_raw", "frac", "Avg")))),
        "hour_ts", step, Map("RH_raw" -> "RH"))

      val (finalDf, exch) = timed("merge+convert+mask+qc", f) {
        val merged = L1Pipeline.mergeOnTime(Seq(tableA, condB), "hour_ts")
        val converted = L1Pipeline.convertUnits(merged, Map(
          "Ta" -> (((c: Column) => Conversions.kelvinToCelsius(c)), "degC"),
          "RH" -> (((c: Column) => Conversions.fracToPercent(c)), "%")))
        val masked = L1Pipeline.maskPlausible(converted)
        val out = L1Pipeline.withQcFlags(masked.df, "hour_ts")
          .withColumn("year", L1Pipeline.labelYear(col("hour_ts"), step))
        (out, graft.obs.Census.of(out.queryExecution.executedPlan))
      }

      val dataDir = s"$outRoot/f$f/data"
      timed("partitioned write", f) {
        finalDf.write.mode("overwrite").partitionBy("year")
          .parquet(dataDir)
      }
      val back = spark.read.parquet(dataDir)
      val nYears = back.select("year").distinct().count()
      val joins = exch.joins.toSeq.sorted
        .map { case (k, n) => s""""$k":$n""" }.mkString("{", ",", "}")
      println(f"""{"summary":"l1_lifecycle","factor":$f,""" +
        f""""exchanges":${exch.exchanges},"joins":$joins,"rows":${back.count()},""" +
        f""""years":$nYears,"legal":${rep.legal}}""")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
