package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import graft.functions.Fp2
import graft.sources.Tob

/** Synthetic TOB1/TOB3 binary fixtures built from the public format
  * spec; exercises decode incl. FP2 sentinels, minor frames, invalid
  * validation stamps, and truncated tails. */
class TobSpec extends SparkSpec {

  // ---- FP2 scalar + expression ----

  test("FP2 decode: values, exponents, sentinels (F26)") {
    assert(Fp2.decode(0x0001) == 1.0)
    assert(Fp2.decode(0x200d) == 1.3)          // 13 * 10^-1
    assert(Fp2.decode(0x8001) == -1.0)         // sign bit
    assert(Fp2.decode(0x6fff) == 4.095)        // 4095 * 10^-3
    assert(Fp2.decode(0x1fff).isPosInfinity)
    assert(Fp2.decode(0x9fff).isNegInfinity)
    assert(Fp2.decode(0x9ffe).isNaN)
  }

  test("FP2 Catalyst expression matches scalar and codegens") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val vals = Seq(0x0001, 0x200d, 0x8001, 0x1fff)
    val out = vals.toDF("raw").select(Fp2.fp2(col("raw"))).collect()
      .map(_.getDouble(0))
    assert(out.toSeq == vals.map(Fp2.decode))
    Fp2.register(spark)
    val sql = vals.toDF("raw").createOrReplaceTempView("fp2t")
    val viaSql = spark.sql("SELECT fp2_decode(raw) FROM fp2t")
      .collect().map(_.getDouble(0))
    assert(viaSql.toSeq == vals.map(Fp2.decode))
  }

  test("GraftExtensions injects fp2_decode for SQL sessions") {
    val S = org.apache.spark.sql.SparkSession
    val prev = spark // ensure shared context exists
    S.clearActiveSession(); S.clearDefaultSession()
    try {
      // with no active/default session, getOrCreate builds a fresh
      // session (same context) and applies the extensions that
      // `spark.sql.extensions` names
      val s2 = GraftSession()
      val out = s2.sql("SELECT fp2_decode(8205)").head().getDouble(0)
      assert(out == 1.3) // 0x200d
    } finally {
      S.setActiveSession(prev); S.setDefaultSession(prev)
    }
  }

  // ---- fixture builders ----

  private def quoted(fields: String*): String =
    fields.map(f => "\"" + f + "\"").mkString(",")

  private def tob1Fixture(): Array[Byte] = {
    val header = Seq(
      quoted("TOB1", "Site", "CR3000", "1", "os", "prog", "99", "fast"),
      quoted("SECONDS", "NANOSECONDS", "Ux", "Diag"),
      quoted("SECONDS", "NANOSECONDS", "m/s", "arb"),
      quoted("", "", "Smp", "Smp"),
      quoted("ULONG", "ULONG", "IEEE4", "FP2")
    ).mkString("", "\r\n", "\r\n").getBytes(StandardCharsets.US_ASCII)
    val body = ByteBuffer.allocate(3 * 14)
    for (i <- 0 until 3) {
      body.order(ByteOrder.LITTLE_ENDIAN)
      body.putInt(1000000000 + i)          // seconds since 1990
      body.putInt(500000000)               // 0.5 s in nanos
      body.putFloat(1.5f + i)
      body.order(ByteOrder.BIG_ENDIAN)
      body.putShort(0x200d.toShort)        // FP2 1.3
    }
    header ++ body.array()
  }

  /** TOB3: 2 sub-records of (IEEE4, FP2) per frame = 6 bytes/rec;
    * frame = 12 hdr + 2*6 + 4 foot = 28 bytes. */
  private def tob3Frame(seconds: Int, subsec: Int, begRec: Int,
      word0: Int, stamp: Int, vals: Seq[(Float, Short)]): Array[Byte] = {
    val b = ByteBuffer.allocate(28).order(ByteOrder.LITTLE_ENDIAN)
    b.putInt(seconds); b.putInt(subsec); b.putInt(begRec)
    vals.foreach { case (f, fp2) =>
      b.order(ByteOrder.LITTLE_ENDIAN).putFloat(f)
      b.order(ByteOrder.BIG_ENDIAN).putShort(fp2)
    }
    b.position(24)
    b.order(ByteOrder.LITTLE_ENDIAN)
    b.putShort(word0.toShort); b.putShort(stamp.toShort)
    b.array()
  }

  private def tob3Fixture(): Array[Byte] = {
    val header = Seq(
      quoted("TOB3", "Site", "CR3000", "1", "os", "prog", "99"),
      quoted("fast", "100 MSEC", "28", "1000", "43981", "Sec100Usec"),
      quoted("Ux", "Ts"),
      quoted("m/s", "degC"),
      quoted("Smp", "Smp"),
      quoted("IEEE4", "FP2")
    ).mkString("", "\r\n", "\r\n").getBytes(StandardCharsets.US_ASCII)
    val good1 = tob3Frame(1000, 0, 10, 0, 43981,
      Seq((1.0f, 0x0001), (2.0f, 0x0002)))
    // invalid stamp -> skipped
    val bad = tob3Frame(2000, 0, 99, 0, 12345,
      Seq((9.0f, 0x0009), (9.0f, 0x0009)))
    // minor frame: only 1 record used: word0 low bits = 12+4+6 = 22
    val minor = tob3Frame(3000, 5000, 20, 22, 0xffff - 43981,
      Seq((3.0f, 0x0003), (0.0f, 0x0000)))
    header ++ good1 ++ bad ++ minor
  }

  /** Runs `body` with session confs set, restoring them after. */
  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** A 12-frame TOB3 file of 28-byte frames (2 records each, begin
    * records 0, 2, ...): frame 3 has an invalid stamp, frames 4 and 7
    * (the first and last of the middle third) are minor with 1
    * record, one FP2 cell is the NaN sentinel, and a 10-byte truncated
    * tail follows. `order` permutes the frames. */
  private def tob3SplitFixture(order: Seq[Int]): Array[Byte] = {
    val header = tob3Fixture().dropRight(3 * 28)
    val frames = (0 until 12).map { f =>
      val stamp = if (f == 3) 12345 else 43981
      val word0 = if (f == 4 || f == 7) 22 else 0
      val fp2 = if (f == 9) 0x9ffe else f
      tob3Frame(1000 + f, 0, 2 * f, word0, stamp,
        Seq((f + 0.5f, fp2.toShort), (f + 0.75f, (f + 100).toShort)))
    }
    header ++ order.flatMap(frames(_)) ++ Array.fill[Byte](10)(7)
  }

  /** (DATETIME us, RECORD, Ux, Ts) of decoded rows. */
  private def tuples(rows: Seq[org.apache.spark.sql.Row]) =
    rows.map(r => (r.getLong(0), r.getLong(1), r.getFloat(2),
      if (r.isNullAt(3)) None else Some(r.getDouble(3))))

  private def scanTuples(dir: Path) = {
    import org.apache.spark.sql.functions._
    val df = spark.read.format("tob").load(dir.toString)
      .select(unix_micros(col("DATETIME")), col("RECORD"), col("Ux"), col("Ts"))
    (tuples(df.collect().toSeq).sortBy(_._2), df.rdd.getNumPartitions)
  }

  // ---- decode tests ----

  test("TOB1 decode builds 1990-epoch timestamps and channels (S8)") {
    val (rows, h) = Tob.decodeTob1(tob1Fixture())
    assert(h.names == Seq("SECONDS", "NANOSECONDS", "Ux", "Diag"))
    assert(rows.length == 3)
    val us0 = rows.head.getLong(0)
    val expect0 = java.sql.Timestamp.valueOf("2021-09-09 01:46:40.0005")
    // 1990-01-01 + 1e9 s + 0.5 s
    assert(us0 == java.time.LocalDateTime.of(1990, 1, 1, 0, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
      + 1000000000L * 1000000L + 500000L)
    assert(rows.head.getFloat(1) == 1.5f)
    assert(rows.head.getDouble(2) == 1.3)
  }

  test("TOB3 decode: major frames, invalid stamps skipped, minor frames partial (S9)") {
    val (rows, h) = Tob.decodeTob3(tob3Fixture())
    // good1 contributes 2 records, bad none, minor 1
    assert(rows.length == 3)
    assert(rows.map(_.getLong(1)) == Seq(10L, 11L, 20L))
    // sub-record timestamp spacing = 100 ms
    assert(rows(1).getLong(0) - rows(0).getLong(0) == 100000L)
    // minor frame time includes subseconds * 100us
    val epoch1990 = java.time.LocalDateTime.of(1990, 1, 1, 0, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    assert(rows(2).getLong(0) == epoch1990 + 3000L * 1000000L + 5000L * 100L)
    assert(rows(2).getFloat(2) == 3.0f)
    // FP2 values decode (0x0001 -> 1.0, 0x0002 -> 2.0)
    assert(rows(0).getDouble(3) == 1.0)
    assert(rows(1).getDouble(3) == 2.0)
  }

  test("TOB3 streaming decode == sorted decode on ordered files; " +
      "order probe flags ring-buffer wraps") {
    // the fixture's valid frames are in record order (10.., then 20..)
    val fx = tob3Fixture()
    assert(Tob.tob3FramesInOrder(fx))
    val sorted = Tob.decodeTob3(fx)._1
    val streamed = Tob.decodeTob3Rows(fx)._1.toVector
    assert(streamed == sorted)
    // ring-buffer wrap: swap the two valid 28-byte frames (header is
    // everything before the first frame; frames are good1|bad|minor)
    val headerLen = fx.length - 3 * 28
    val wrapped = fx.take(headerLen) ++
      fx.slice(headerLen + 56, headerLen + 84) ++  // minor (beg 20)
      fx.slice(headerLen + 28, headerLen + 56) ++  // bad (skipped)
      fx.slice(headerLen, headerLen + 28)          // good1 (beg 10)
    assert(!Tob.tob3FramesInOrder(wrapped))
    // the sorted decoder restores record order on the wrapped file
    assert(Tob.decodeTob3(wrapped)._1.map(_.getLong(1)) ==
      Seq(10L, 11L, 20L))
    // the v2 source (which picks the path itself) agrees on both
    val dir = Files.createTempDirectory("tob3order")
    Files.write(dir.resolve("a.dat"), fx)
    val viaV2 = spark.read.format("tob").load(dir.toString)
      .orderBy("RECORD").collect()
    assert(viaV2.map(_.getLong(1)).toSeq == Seq(10L, 11L, 20L))
    val dir2 = Files.createTempDirectory("tob3wrap")
    Files.write(dir2.resolve("a.dat"), wrapped)
    val viaV2w = spark.read.format("tob").load(dir2.toString)
      .orderBy("RECORD").collect()
    assert(viaV2w.map(_.getLong(1)).toSeq == Seq(10L, 11L, 20L))
  }

  test("TOB3 truncated tail is ignored; TOB1 via Spark source (S8/S9)") {
    val full = tob3Fixture()
    val truncated = full.dropRight(10)
    val (rows, _) = Tob.decodeTob3(truncated)
    assert(rows.length == 2) // minor frame lost, no crash

    val dir = Files.createTempDirectory("tob1")
    Files.write(dir.resolve("a.dat"), tob1Fixture())
    val parsed = Tob.read(spark, dir.toString)
    assert(parsed.data.count() == 3)
    assert(parsed.data.columns.toSeq ==
      Seq("DATETIME", "Ux", "Diag"))
    assert(parsed.meta.info.stationName == "Site")
  }

  test("mixed-header TOB directory fails loudly, not silently misdecoded") {
    val dir = Files.createTempDirectory("tobmix")
    Files.write(dir.resolve("a.dat"), tob1Fixture())
    Files.write(dir.resolve("b.dat"), tob3Fixture())
    val e = intercept[Exception] {
      Tob.read(spark, dir.toString).data.count()
    }
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" "))
    assert(rootMsg(e).contains("header mismatch"))
    val e2 = intercept[Exception] {
      spark.read.format("tob").load(dir.toString).count()
    }
    assert(rootMsg(e2).contains("header mismatch"))
  }

  test("fast-data window stats and shard writing (A14/E4/F28)") {
    import org.apache.spark.sql.functions._
    import graft.pipeline.FastData
    import graft.core.{FileInfo, TableMeta, VariableMeta}
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00.1")
    val rows = (0 until 100).map { i =>
      (new java.sql.Timestamp(base.getTime + i * 100L), i.toDouble) }
    import spark.implicits._
    val df = rows.toDF("DATETIME", "Ux")
    val stats = FastData.windowStats(df, "DATETIME", 1, 10.0)
      .orderBy("window_end").collect()
    // 100 records at 10 Hz starting 0.1s: first minute-window gets
    // records 0..599? -> here 100 rows over 10s, all in first window
    assert(stats.length == 1 && stats(0).getAs[Long]("n_rows") == 100)
    assert(stats(0).getAs[Long]("n_expected") == 600)

    val meta = TableMeta(FileInfo.dummy,
      Seq(VariableMeta("TIMESTAMP", "TS", ""), VariableMeta("Ux", "m/s", "Smp")))
    val out = Files.createTempDirectory("shards")
    val names = FastData.writeShards(df, meta, "DATETIME", 1,
      out.toString, "Site_fast")
    assert(names == Seq("Site_fast_2024_01_01_0001.dat"))
    assert(Files.exists(out.resolve(names.head)))
  }

  test("TOB3 frame-aligned splits decode exactly what decodeTob3 does") {
    val inOrder = tob3SplitFixture(0 until 12)
    val want = tuples(Tob.decodeTob3(inOrder)._1)
    assert(want.length == 20)     // 12 frames: 1 invalid, 2 minor
    assert(want.exists(_._4.isEmpty))
    // a ring-buffer wrap of the same frames: the same row set
    val ring = tob3SplitFixture((6 until 12) ++ (0 until 6))
    assert(tuples(Tob.decodeTob3(ring)._1) == want)
    withConf("spark.sql.files.maxPartitionBytes" -> "112") {
      val dir = Files.createTempDirectory("tob3split")
      Files.write(dir.resolve("a.dat"), inOrder)
      val (got, parts) = scanTuples(dir)
      assert(parts == 3)          // 336 data bytes in 112-byte splits
      assert(got == want)
      val dirRing = Files.createTempDirectory("tob3splitring")
      Files.write(dirRing.resolve("a.dat"), ring)
      val (gotRing, partsRing) = scanTuples(dirRing)
      assert(partsRing == 3)
      assert(gotRing == want)
      // the wrapped middle split (frames 10, 11, 0, 1) is record-sorted
      val perSplit = spark.read.format("tob").load(dirRing.toString)
        .select("RECORD").rdd.glom().collect()
        .map(_.map(_.getLong(0)).toSeq).toSeq
      assert(perSplit.forall(p => p == p.sorted), perSplit)
      assert(perSplit.flatten.sorted == want.map(_._2))
    }
  }

  test("TOB1 record-aligned splits decode exactly what decodeTob1 does") {
    val dir = Files.createTempDirectory("tob1split")
    val base = 1000000000000000L
    Tob.writeTob1(s"$dir/a.dat",
      Seq("TOB1", "Site", "CR6", "1", "os", "prog", "1", "Fast"),
      Seq("Ux", "Uy"),
      (0 until 50).map(i => (base + i * 100000L, Seq(i.toFloat, -i.toFloat))))
    val want = Tob.decodeTob1(Files.readAllBytes(dir.resolve("a.dat")))._1
      .map(r => (r.getLong(0), r.getFloat(1), r.getFloat(2)))
    withConf("spark.sql.files.maxPartitionBytes" -> "256") {
      import org.apache.spark.sql.functions._
      val df = spark.read.format("tob").load(dir.toString)
        .select(unix_micros(col("DATETIME")), col("Ux"), col("Uy"))
      assert(df.rdd.getNumPartitions == 4)  // 800 data bytes
      val got = df.collect().toSeq
        .map(r => (r.getLong(0), r.getFloat(1), r.getFloat(2)))
      assert(got.sortBy(_._1) == want)
    }
  }

  test("Tob.read plans from the header alone and runs no Spark job") {
    val dir = Files.createTempDirectory("tobjobs")
    Files.write(dir.resolve("a.dat"), tob1Fixture())
    val (parsed, r) = graft.obs.Meter.on(spark).span("Tob.read") {
      Tob.read(spark, dir.toString)
    }
    assert(r.jobs.size == 0)
    assert(parsed.meta.info.tableName == "fast")
    assert(parsed.data.count() == 3)
  }
}
