package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{LocalDate, ZoneOffset}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{FileInfo, TableMeta, VariableMeta}
import graft.pipeline.FastData

/** Bulk 10 Hz fast data, the nightly job's `fast` site task:
  * logger-days of TOB3 decoded, windowed into 30-minute completeness
  * stats and re-written as 30-minute TOA5 shards. A few large binary
  * files and one big shuffle, so per-row decode, formatting and the
  * shard writer dominate: the opposite of the `l1` task's many small
  * text files. */
object FastDataBulk {
  val Days = 2
  private val RecordsPerDay = 864000
  private val RecsPerFrame = 64
  private val RecSize = 6                       // IEEE4 + FP2
  private val FrameSize = 12 + RecsPerFrame * RecSize + 4
  private val FramesPerDay = RecordsPerDay / RecsPerFrame
  private val Validation = 43981                // 0xABCD
  private val WindowMin = 30
  private val RecsPerWindow = WindowMin * 60 * 10
  private val Prefix = "Fast"

  /** Ground truth: decoded rows, exact value sums (Ux is a multiple of
    * 0.25 and Ts an integer, so double sums are exact in any order),
    * rows per window end (epoch seconds), and the corrupted frames. */
  final case class Truth(rows: Long, sumUx: Double, sumTs: Long,
      windows: Map[Long, Long], corruptFrames: Seq[(Int, Int)])
  @volatile private var truth: Truth = _

  /** Writes one logger day: record r stamped day0 + (r+1)·100 ms, so
    * every (end-labelled) 30-minute window of the day holds 18,000
    * records; a few frames carry a bad validation stamp and must be
    * skipped by the decoder. */
  private def writeDay(path: Path, day0Sec: Long, dayIdx: Int,
      rng: scala.util.Random, acc: Array[Double],
      windows: collection.mutable.Map[Long, Long]): Seq[Int] = {
    def q(fields: String*): String = fields.map(f => "\"" + f + "\"").mkString(",")
    val header = Seq(
      q("TOB3", "FastSite", "CR3000", "1", "os", "prog", "99"),
      q("fast", "100 MSEC", FrameSize.toString, RecordsPerDay.toString,
        Validation.toString, "Sec100Usec"),
      q("Ux", "Ts"), q("m/s", "degC"), q("Smp", "Smp"), q("IEEE4", "FP2")
    ).mkString("", "\r\n", "\r\n").getBytes(StandardCharsets.US_ASCII)
    val corrupt = Seq.fill(3)(rng.nextInt(FramesPerDay)).distinct.sorted
    val epoch1990 = LocalDate.of(1990, 1, 1).atStartOfDay.toEpochSecond(ZoneOffset.UTC)
    val out = new java.io.BufferedOutputStream(Files.newOutputStream(path), 1 << 20)
    try {
      out.write(header)
      val buf = ByteBuffer.allocate(FrameSize)
      for (fr <- 0 until FramesPerDay) {
        val bad = corrupt.contains(fr)
        buf.clear()
        val startTenths = fr.toLong * RecsPerFrame + 1   // 100 ms units
        buf.order(ByteOrder.LITTLE_ENDIAN)
        buf.putInt((day0Sec - epoch1990 + startTenths / 10).toInt)
        buf.putInt(((startTenths % 10) * 1000).toInt)    // 100 us units
        buf.putInt(dayIdx * RecordsPerDay + fr * RecsPerFrame)
        var i = 0
        while (i < RecsPerFrame) {
          val ux = rng.nextInt(161) * 0.25f - 20f
          val ts = rng.nextInt(2000)
          buf.order(ByteOrder.LITTLE_ENDIAN).putFloat(ux)
          // FP2 big-endian, exponent 0: value = mantissa
          buf.order(ByteOrder.BIG_ENDIAN).putShort(ts.toShort)
          if (!bad) {
            acc(0) += 1; acc(1) += ux; acc(2) += ts
            val tenths = startTenths + i
            val w = day0Sec + ((tenths + RecsPerWindow - 1) / RecsPerWindow) *
              WindowMin * 60
            windows(w) = windows.getOrElse(w, 0L) + 1
          }
          i += 1
        }
        buf.order(ByteOrder.LITTLE_ENDIAN)
        buf.putShort(0.toShort)                          // major frame
        buf.putShort((if (bad) 1 else Validation).toShort)
        out.write(buf.array(), 0, FrameSize)
      }
    } finally out.close()
    corrupt
  }

  /** Writes the site's TOB3 days under `dir`, and `fast_truth.json`
    * beside `dir` (the decoder reads every file in it). */
  def generate(seed: Long, dir: Path): Unit = {
    val rng = new scala.util.Random(seed)
    Files.createDirectories(dir)
    // a fixed start day: the 30-minute windows, and so the shuffle's
    // partition sizes and peak memory, are the same for every seed
    val start = LocalDate.of(2024, 3, 1)
    val acc = Array(0.0, 0.0, 0.0)
    val windows = collection.mutable.HashMap.empty[Long, Long]
    val corrupt = (0 until Days).flatMap { d =>
      val day = start.plusDays(d)
      writeDay(dir.resolve(s"FastSite_$day.dat"),
        day.atStartOfDay.toEpochSecond(ZoneOffset.UTC), d, rng, acc, windows)
        .map(f => (d, f))
    }
    truth = Truth(acc(0).toLong, acc(1), acc(2).toLong, windows.toMap, corrupt)
    Json.write(dir.resolveSibling("fast_truth.json"), Map(
      "rows" -> truth.rows, "sum_Ux" -> truth.sumUx, "sum_Ts" -> truth.sumTs,
      "windows" -> truth.windows.toSeq.sorted.map { case (w, n) =>
        Map("window_end" -> java.time.Instant.ofEpochSecond(w).toString, "rows" -> n) },
      "corrupt_frames" -> corrupt.map { case (d, f) => Map("day" -> d, "frame" -> f) }))
  }

  private val Meta = TableMeta(FileInfo.dummy, Seq(
    VariableMeta("TIMESTAMP", "TS", ""), VariableMeta("RECORD", "RN", ""),
    VariableMeta("Ux", "m/s", "Smp"), VariableMeta("Ts", "degC", "Smp")))

  /** The site task: decode, window and shard the files under `dir`
    * into `out`, checking each step against the generator. Any failed
    * check throws and fails the task. Returns the output digest. */
  def task(spark: SparkSession, t: Tracer, dir: Path, out: Path): String = {
    val tr = truth
    val md5 = java.security.MessageDigest.getInstance("MD5")
    val df = spark.read.format("tob").load(dir.toString)
    t.span("sources.tob_read") {
      val r = df.agg(count(lit(1)), sum(col("Ux")), sum(col("Ts"))).head()
      Check.equal("decoded rows", r.getLong(0), tr.rows)
      Check.equal("sum Ux", r.getDouble(1), tr.sumUx)
      Check.equal("sum Ts", r.getDouble(2), tr.sumTs.toDouble)
    }
    t.span("pipeline.fast_windows") {
      val ws = FastData.windowStats(df.select(col("DATETIME")), "DATETIME",
        WindowMin, 10.0).collect()
      val got = ws.map(r => r.getTimestamp(0).getTime / 1000 -> r.getLong(1)).toMap
      Check.equal("windows", got.size, Days * 48)
      Check(got == tr.windows, "window row counts differ from the generator's")
      got.toSeq.sorted.foreach { case (w, n) => md5.update(s"$w:$n;".getBytes) }
    }
    t.span("pipeline.fast_shards") {
      val names = FastData.writeShards(df, Meta, "DATETIME", WindowMin,
        out.toString, Prefix)
      Check.equal("shards", names.size, Days * 48)
      val onDisk = Files.list(out).iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".dat")).toSet
      Check(onDisk == names.toSet, "shard files differ from the returned names")
      names.foreach(n => md5.update(n.getBytes))
      md5.update(onDisk.toSeq.sorted.map(n => Files.size(out.resolve(n)))
        .mkString(",").getBytes)
    }
    md5.digest().map(b => f"$b%02x").mkString
  }
}
