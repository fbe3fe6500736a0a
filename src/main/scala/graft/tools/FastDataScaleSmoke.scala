package graft.tools

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.core.{FileInfo, TableMeta, VariableMeta}
import graft.pipeline.FastData

/** Factor smoke for the fast-data volume path (E4: S9 TOB3 decode →
  * A14 window partitioning → K1 TOA5 shard write — ref
  * `code/utils/fast_file_io.py:444-596`): synthesizes N daily TOB3
  * files (default 864,000 records each — a 10 Hz logger day in
  * 64-record major frames) and drives the whole chain at factor 1 vs
  * factor N, recording wall seconds, decoded rows, shard files
  * written, plan Exchange counts, and task/GC seconds.
  *
  * What must hold at scale: the DSv2 scan is split-parallel (each
  * logger file is cut into frame-aligned byte ranges sized by
  * Spark's file-split rule, so N files decode at least N-way with no
  * driver involvement), `windowStats` is one partial-aggregated
  * groupBy on the window key, and `writeShards` runs a counting pass
  * and one write, each with one shuffle, regardless of window count,
  * in tasks packed to one Tungsten page of rows. So wall should scale
  * far sublinearly with N on a 32-core box until the splits exceed
  * the core count, shard count must scale exactly linearly (48
  * half-hour shards per day), and the smoke asserts that each phase's
  * exchange count and the shard write's per-task peak execution
  * memory are the same at factor 1 and factor N.
  *
  * Usage: `runMain graft.tools.FastDataScaleSmoke [factor] [rowsPerDay]`
  * (defaults 100, 864000). Files land under /tmp/graft_fastsmoke.
  */
object FastDataScaleSmoke {
  private val RecsPerFrame = 64
  private val RecSize = 6                       // IEEE4 + FP2
  private val FrameSize = 12 + RecsPerFrame * RecSize + 4

  /** One synthetic daily TOB3 file: `rows` records at 10 Hz from
    * 2024-01-01 + dayIdx, major frames only, valid stamps — the
    * exact byte grammar `Tob.decodeTob3` documents. */
  private def writeTob3Day(path: java.nio.file.Path, dayIdx: Int,
      rows: Int): Unit = {
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

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(100)
    val rowsPerDay = args.lift(1).map(_.toInt).getOrElse(864000)
    val spark = graft.GraftSession()
    val meter = graft.obs.Meter.on(spark)
    val readings = scala.collection.mutable.Map.empty[(String, Int), graft.obs.Reading]

    val meta = TableMeta(FileInfo.dummy, Seq(
      VariableMeta("TIMESTAMP", "TS", ""),
      VariableMeta("RECORD", "RN", ""),
      VariableMeta("Ux", "m/s", "Smp"),
      VariableMeta("Ts", "degC", "Smp")))

    Seq(1, factor).foreach { f =>
      val inDir = Paths.get(s"/tmp/graft_fastsmoke/in_f$f")
      val outDir = Paths.get(s"/tmp/graft_fastsmoke/out_f$f")
      def rmTree(p: java.nio.file.Path): Unit = if (Files.exists(p))
        Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(q => Files.deleteIfExists(q))
      rmTree(inDir); rmTree(outDir)
      Files.createDirectories(inDir)
      val tSynth = System.nanoTime()
      (0 until f).foreach { d =>
        writeTob3Day(inDir.resolve(f"day$d%03d.dat"), d, rowsPerDay)
      }
      val synthSec = (System.nanoTime() - tSynth) / 1e9
      val inBytes = Files.list(inDir).toArray.map(p =>
        Files.size(p.asInstanceOf[java.nio.file.Path])).sum

      def timed(phase: String)(body: => Long): Unit = {
        val (n, r) = meter.span(phase)(body)
        readings((phase, f)) = r
        println(f"""{"phase":"$phase","factor":$f,"sec":${r.wallS}%.1f,""" +
          f""""n":$n,"exchanges":${r.census.exchanges},""" +
          f""""peak_exec_mb":${r.peakExecBytes / 1048576.0}%.2f,""" +
          f""""cpu_sec":${r.cpuS}%.1f,"gc_sec":${r.gcS}%.1f}""")
      }

      println(f"""{"phase":"synth","factor":$f,"sec":$synthSec%.1f,""" +
        f""""files":$f,"mb":${inBytes >> 20}}""")
      val df = spark.read.format("tob").load(inDir.toString)
      timed("decode_windowStats") {
        FastData.windowStats(df.select(col("DATETIME")), "DATETIME", 30, 10.0)
          .agg(sum(col("n_rows"))).collect()(0).getLong(0)
      }
      timed("shard_write") {
        FastData.writeShards(
          df, meta, "DATETIME", 30, outDir.toString, "Site_fast").length
      }
      val outBytes = Files.list(outDir).toArray.map(p =>
        Files.size(p.asInstanceOf[java.nio.file.Path])).sum
      println(f"""{"phase":"out","factor":$f,""" +
        f""""shard_mb":${outBytes >> 20}}""")
    }
    def at(phase: String, f: Int) = readings((phase, f))
    Seq("decode_windowStats", "shard_write").foreach { p =>
      val (e1, eN) = (at(p, 1).census.exchanges, at(p, factor).census.exchanges)
      require(e1 == eN, s"$p exchanges grew with the factor: $e1 -> $eN")
    }
    val (m1, mN) = (at("shard_write", 1).peakExecBytes,
      at("shard_write", factor).peakExecBytes)
    require(m1 == mN,
      s"shard_write per-task peak execution memory grew: $m1 -> $mN bytes")
    println(s"""{"smoke":"fast_data","factors":[1,$factor],""" +
      s""""exch_invariant":true,"peak_exec_invariant":true}""")
    spark.stop()
  }
}
