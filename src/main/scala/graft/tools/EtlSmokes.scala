package graft.tools

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{FileInfo, TableMeta, VariableMeta}
import graft.functions.Conversions
import graft.operators.JoinOps
import graft.pipeline.{FastData, L1Pipeline, MergeLegality}
import graft.pipeline.L1Pipeline.Conditioned
import graft.tools.Smokes.{Run, Smoke}

/** The ETL-spine entries of [[Smokes]]. */
object EtlSmokes {

  /** The FULL L1 lifecycle (E1, the q61 composition): condition
    * (subset+rename → dup-timestamp drop → regularize) on two
    * overlapping "files", the J2 legality gate, vertical concat with
    * master precedence, horizontal time merge with a second table,
    * unit conversion, plausibility mask, QC flags, end-of-interval year
    * labeling and the YEAR-PARTITIONED lake write.
    *
    * Amplification axis: YEARS of half-hourly record (the axis a flux
    * network actually grows on — more sites × longer records; sites
    * are independent jobs, so years-per-job is the in-job dimension).
    * Factor f = f years of 17,520 half-hourly rows per source table,
    * synthesized from `spark.range` ticks (value = a fixed
    * function of the tick, ~6% implausible so the mask has work, 25%
    * duplicate rows injected so dedup has work, candidate file
    * overlapping the master by 30 days at coarser precision so
    * precedence is visible). Legality's actions are bounded: interval
    * inference is a two-row collect, the new-dates probe a count. */
  val l1: Smoke = new Smoke("l1", 100) {
    private val step = 1800L // half-hourly, the reference's native interval
    private val base = java.time.Instant.parse("2000-01-01T00:00:00Z").getEpochSecond

    /** Deterministic half-hourly source frame over [from, until)
      * ticks: value a fixed function of the tick. Ta_raw in Kelvin
      * with ~6% of rows outside the plausible window; n_raw a count. */
    private def src(r: Run, fromTick: Long, untilTick: Long, digits: Int): DataFrame = {
      val p = math.pow(10.0, digits)
      r.spark.range(fromTick, untilTick)
        .select(
          timestamp_seconds(lit(base) + col("id") * step).as("hour_ts"),
          (floor((lit(24.0) + pmod(col("id") * 37, lit(107))
            + when(pmod(col("id"), lit(17)) === 0, 900.0).otherwise(0.0))
            * p + 0.5) / p).as("Ta_raw"),
          pmod(col("id"), lit(60)).cast("long").as("n_raw"))
    }

    def run(r: Run): Unit = {
      val ticks = 365L * 48 * r.f
      val metaA = TableMeta(FileInfo.dummy, Seq(
        VariableMeta("Ta_raw", "K", "Avg",
          plausibleMin = Some(-250.0), plausibleMax = Some(-150.0)),
        VariableMeta("n_raw", "n", "Tot")))
      val usecolsA = Map("Ta_raw" -> "Ta", "n_raw" -> "n_samp")
      // master: [0, 60% of span) at 6 digits + 25% injected dup rows
      val cutA = ticks * 3 / 5
      val rawA1 = src(r, 0, cutA, 6)
      val fileA1 = rawA1.unionAll(
        rawA1.filter(pmod(hour(col("hour_ts")), lit(4)) === 0))
      // candidate: overlaps master by 30 days, 5 digits
      val rawA2 = src(r, cutA - 30 * 48, ticks, 5)

      val tableA = r.phase("condition+legality") {
        def stage(c: Conditioned): Conditioned = c.copy(df = r.stage(c.df))
        val condA1 = stage(L1Pipeline.condition(
          Conditioned(fileA1, metaA), "hour_ts", step, usecolsA))
        val condA2 = stage(L1Pipeline.condition(
          Conditioned(rawA2, metaA), "hour_ts", step, usecolsA))
        val rep = MergeLegality.analyse(
          condA1.df, condA1.meta, condA2.df, condA2.meta, "hour_ts")
        require(rep.legal, s"fixture must be a legal concat: $rep")
        (Conditioned(
          JoinOps.concatWithPrecedence(Seq(condA1.df, condA2.df),
            Seq("hour_ts")),
          condA1.meta), condA1.df.count() + condA2.df.count())
      }(_._2).map(_._1)

      // second table: RH in fraction units over the back 70% of span
      val rawB = src(r, ticks * 3 / 10, ticks, 6)
        .select(col("hour_ts"),
          (pmod(col("n_raw") * 7, lit(100)) / 100.0).as("RH_raw"))
      val condB = L1Pipeline.condition(
        Conditioned(rawB, TableMeta(FileInfo.dummy,
          Seq(VariableMeta("RH_raw", "frac", "Avg")))),
        "hour_ts", step, Map("RH_raw" -> "RH"))

      val dataDir = r.dir("data")
      tableA.foreach(tableA => r.count("merge+write", RegularizeJoin) {
        val merged = L1Pipeline.mergeOnTime(Seq(tableA, condB), "hour_ts")
        val converted = L1Pipeline.convertUnits(merged, Map(
          "Ta" -> (((c: Column) => Conversions.kelvinToCelsius(c)), "degC"),
          "RH" -> (((c: Column) => Conversions.fracToPercent(c)), "%")))
        val masked = L1Pipeline.maskPlausible(converted)
        L1Pipeline.withQcFlags(masked.df, "hour_ts")
          .withColumn("year", L1Pipeline.labelYear(col("hour_ts"), step))
          .write.mode("overwrite").partitionBy("year").parquet(dataDir)
        r.spark.read.parquet(dataDir).count()
      })
      if (r.rows.contains("merge+write")) r.info("years" ->
        r.spark.read.parquet(dataDir).select("year").distinct().count())
    }
  }

  /** Why the L1 merge's plan depends on size. The merged frame plans
    * two joins: the J3 merge (`JoinOps.mergeOnTime`) is pinned
    * `shuffle_hash` at every factor, but the second table's A1 grid
    * join (`TimeSeriesOps.regularize`'s unhinted
    * `grid.join(df, ..., "left")`) follows the conditioned side's size
    * estimate: a broadcast hash join at factor 1, a sort-merge join at
    * factor 100 (5 exchanges against 4; ROADMAP items 6 and 10). */
  val RegularizeJoin = "regularize's unhinted grid join plans by the " +
    "conditioned side's size estimate: broadcast when small, sort-merge when large"

  private val RecsPerFrame = 64
  private val RecSize = 6                       // IEEE4 + FP2
  private val FrameSize = 12 + RecsPerFrame * RecSize + 4

  /** One synthetic daily TOB3 file: `rows` records at 10 Hz from
    * 2024-01-01 + dayIdx, major frames only, valid stamps — the
    * exact byte grammar `Tob.decodeTob3` documents. */
  private def writeTob3Day(path: Path, dayIdx: Int, rows: Int): Unit = {
    require(rows % RecsPerFrame == 0, s"rows=$rows not a frame multiple")
    def q(fields: String*): String =
      fields.map(f => "\"" + f + "\"").mkString(",")
    val header = Seq(
      q("TOB3", "Site", "CR3000", "1", "os", "prog", "99"),
      q("fast", "100 MSEC", FrameSize.toString, rows.toString,
        "43981", "Sec100Usec"),
      q("Ux", "Ts"),
      q("m/s", "degC"),
      q("Smp", "Smp"),
      q("IEEE4", "FP2")
    ).mkString("", "\r\n", "\r\n").getBytes(StandardCharsets.US_ASCII)
    val day0Sec = java.time.LocalDate.of(2024, 1, 1).plusDays(dayIdx)
      .atStartOfDay.toEpochSecond(java.time.ZoneOffset.UTC) -
      java.time.LocalDate.of(1990, 1, 1)
        .atStartOfDay.toEpochSecond(java.time.ZoneOffset.UTC)
    val out = new java.io.BufferedOutputStream(
      Files.newOutputStream(path), 1 << 20)
    try {
      out.write(header)
      val buf = ByteBuffer.allocate(FrameSize)
      val nFrames = rows / RecsPerFrame
      var fr = 0
      while (fr < nFrames) {
        buf.clear()
        val startTenths = fr.toLong * RecsPerFrame  // 100 ms units
        buf.order(ByteOrder.LITTLE_ENDIAN)
        buf.putInt((day0Sec + startTenths / 10).toInt)
        buf.putInt(((startTenths % 10) * 1000).toInt) // 100 us units
        buf.putInt(dayIdx * rows + fr * RecsPerFrame) // begRecord
        var i = 0
        while (i < RecsPerFrame) {
          val rec = fr * RecsPerFrame + i
          buf.order(ByteOrder.LITTLE_ENDIAN)
            .putFloat((rec % 1000) * 0.01f - 5.0f)
          // FP2 big-endian, exponent 0: value = mantissa (0..1999)
          buf.order(ByteOrder.BIG_ENDIAN)
            .putShort((rec % 2000).toShort)
          i += 1
        }
        buf.order(ByteOrder.LITTLE_ENDIAN)
        buf.putShort(0.toShort)        // word0 = 0: major frame
        buf.putShort(43981.toShort)    // validation stamp
        out.write(buf.array(), 0, FrameSize)
        fr += 1
      }
    } finally out.close()
  }

  /** The fast-data volume path (E4: S9 TOB3 decode → A14 window
    * partitioning → K1 TOA5 shard write — ref
    * `code/utils/fast_file_io.py:444-596`) over f synthetic daily TOB3
    * files of 864,000 records each (a 10 Hz logger day in 64-record
    * major frames).
    *
    * What must hold at scale: the DSv2 scan is split-parallel (each
    * logger file is cut into frame-aligned byte ranges sized by
    * Spark's file-split rule, so N files decode at least N-way with no
    * driver involvement), `windowStats` is one partial-aggregated
    * groupBy on the window key, and `writeShards` runs a counting pass
    * and one write, each with one shuffle, regardless of window count,
    * in tasks packed to one Tungsten page of rows and sorted in 1 MiB
    * pages. So wall should scale far sublinearly with N until the
    * splits exceed the core count, shard count must scale exactly
    * linearly (48 half-hour shards per day), and the smoke asserts
    * that each phase's exchange count and the shard write's per-task
    * peak execution memory are the same at both factors, and that the
    * write stage's hungriest sort task reports the same peak, above 0,
    * at both. */
  val fastData: Smoke = new Smoke("fastData", 100) {
    private val rowsPerDay = 864000

    def run(r: Run): Unit = {
      val meta = TableMeta(FileInfo.dummy, Seq(
        VariableMeta("TIMESTAMP", "TS", ""),
        VariableMeta("RECORD", "RN", ""),
        VariableMeta("Ux", "m/s", "Smp"),
        VariableMeta("Ts", "degC", "Smp")))
      val inDir = Paths.get(r.dir("in"))
      val outDir = r.dir("out")
      Files.createDirectories(inDir)
      (0 until r.f).foreach { d =>
        writeTob3Day(inDir.resolve(f"day$d%03d.dat"), d, rowsPerDay)
      }
      val df = r.spark.read.format("tob").load(inDir.toString)
      r.count("decode_windowStats") {
        FastData.windowStats(df.select(col("DATETIME")), "DATETIME", 30, 10.0)
          .agg(sum(col("n_rows"))).collect()(0).getLong(0)
      }
      r.count("shard_write") {
        FastData.writeShards(df, meta, "DATETIME", 30, outDir, "Site_fast").length
      }
    }

    override def across(lo: Run, hi: Run): Unit = {
      def at(phase: String, r: Run) = r.readings(phase)
      Seq("decode_windowStats", "shard_write").foreach { p =>
        val (e1, eN) = (at(p, lo).census.exchanges, at(p, hi).census.exchanges)
        require(e1 == eN, s"$p exchanges grew with the factor: $e1 -> $eN")
      }
      val (m1, mN) = (at("shard_write", lo).peakExecBytes,
        at("shard_write", hi).peakExecBytes)
      require(m1 == mN,
        s"shard_write per-task peak execution memory grew: $m1 -> $mN bytes")
      require(m1 > 0 && mN > 0,
        s"shard_write reported no execution memory: $m1, $mN bytes")
      // the span's hungriest task is the counting pass's one-page final
      // aggregate, so the equality above does not see the sort: the
      // write's result stage, which ends last, must report its sorters'
      // peaks, and its hungriest task must not grow with the factor
      val (w1, wN) = (at("shard_write", lo).stagePeaks.last.maxTaskBytes,
        at("shard_write", hi).stagePeaks.last.maxTaskBytes)
      require(w1 > 0 && wN > 0, s"the shard sort reported no peak: $w1, $wN")
      require(w1 == wN,
        s"shard sort per-task peak execution memory grew: $w1 -> $wN bytes")
      hi.info("sort_peak_bytes" -> w1)
    }
  }
}
