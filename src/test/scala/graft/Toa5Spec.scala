package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.core.FileFormat
import graft.sources.Toa5

class Toa5Spec extends SparkSpec {

  /** Minimal TOA5 fixture from FIXTURES.md §1 (4 header lines,
    * quoted fields, NAN token, end-labelled 30-min timestamps). */
  private val fixture: String = Seq(
    """"TOA5","TestSite","CR1000","9999","cr1000.std.99.99","CPU:prog.cr1","1234","slow_table"""",
    """"TIMESTAMP","Fco2_EP","Ta_HMP_Avg","RH_HMP_Avg","ps_Avg","Precip_Tot"""",
    """"TS","umol/m^2/s","degC","percent","kPa","mm"""",
    """"","Avg","Avg","Avg","Avg","Tot"""",
    """"2024-01-01 00:30:00",1.23,21.5,45.2,101.3,0""",
    """"2024-01-01 01:00:00",NAN,21.1,46.0,101.2,0.2""",
    """"2024-01-01 01:00:00",NAN,21.1,46.0,101.2,0.2""",   // D1 dup row
    """"2024-01-01 02:00:00",2.5,garbage,44.0,101.1,0""",  // D3 coercion
    """"not-a-date",9.9,9.9,9.9,9.9,9.9"""                  // D4 bad ts
  ).mkString("\r\n") + "\r\n"

  private def writeFixture(): Path = {
    val dir = Files.createTempDirectory("toa5")
    val f = dir.resolve("TestSite_slow_table.dat")
    Files.write(f, fixture.getBytes(StandardCharsets.UTF_8))
    f
  }

  test("format sniff detects TOA5 vs EddyPro (S3)") {
    assert(FileFormat.detect("\"TOA5\",\"x\"").map(_.name).contains("TOA5"))
    assert(FileFormat.detect("DATAH\tfile").map(_.name).contains("EddyPro"))
    assert(FileFormat.detect("garbage,line").isEmpty)
  }

  test("header probe builds schema and catalog (S4/S5)") {
    val f = writeFixture()
    val (fmt, header) = Toa5.probeHeader(f.toString)
    val meta = Toa5.parseHeader(fmt, header)
    assert(meta.info.stationName == "TestSite")
    assert(meta.info.tableName == "slow_table")
    assert(meta.variableNames ==
      Seq("TIMESTAMP", "Fco2_EP", "Ta_HMP_Avg", "RH_HMP_Avg", "ps_Avg",
        "Precip_Tot"))
    assert(meta.variables.find(_.name == "Fco2_EP").get.units == "umol/m^2/s")
    assert(meta.variables.find(_.name == "Precip_Tot").get.sampling == "Tot")
  }

  test("scan drops bad timestamps, coerces garbage, keeps NA null (S1/D3/D4)") {
    val f = writeFixture()
    val parsed = Toa5.read(spark, f.toString)
    val rows = parsed.data.orderBy("DATETIME").collect()
    assert(rows.length == 4) // bad-ts row dropped, dup kept (D1 is an operator)
    val r2 = rows(1)
    assert(r2.isNullAt(r2.fieldIndex("Fco2_EP")))  // NAN token -> null
    val r4 = rows(3)
    assert(r4.isNullAt(r4.fieldIndex("Ta_HMP_Avg"))) // garbage -> null
    assert(r4.getDouble(r4.fieldIndex("RH_HMP_Avg")) == 44.0)
  }

  test("write/read round-trip is value-stable (K1/K2/D6)") {
    val f = writeFixture()
    val parsed = Toa5.read(spark, f.toString)
    val conditioned = parsed.data.dropDuplicates()
      .drop("TIMESTAMP")
    val out = Files.createTempDirectory("toa5w").resolve("out.dat")
    Toa5.write(conditioned, parsed.meta, out.toString)

    val lines = Files.readAllLines(out)
    assert(lines.get(0).startsWith("\"TOA5\",\"TestSite\""))
    assert(lines.get(1).contains("\"TIMESTAMP\""))
    val back = Toa5.read(spark, out.toString)
    assert(back.data.count() == 3)
    val r = back.data.orderBy("DATETIME").collect()(1)
    assert(r.isNullAt(r.fieldIndex("Fco2_EP"))) // NAN survives round-trip
  }

  test("EddyPro write/read round-trip (S2/K3)") {
    val f = writeFixture()
    val parsed = Toa5.read(spark, f.toString)
    val frame = parsed.data.dropDuplicates().drop("TIMESTAMP")
    val out = Files.createTempDirectory("ep").resolve("x_EP-Summary.txt")
    Toa5.writeEddyPro(frame, parsed.meta, out.toString, "x_EP-Summary.txt")
    val lines = Files.readAllLines(out)
    assert(lines.get(0).startsWith("DATAH\tfilename\tdate\ttime\t"))
    assert(lines.get(1).startsWith("DATAU\t"))
    val back = Toa5.read(spark, out.toString)
    assert(back.meta.info == graft.core.FileInfo.dummy) // no info line
    assert(back.data.count() == 3)
    val r = back.data.orderBy("DATETIME").collect()(1)
    assert(r.isNullAt(r.fieldIndex("Fco2_EP"))) // NaN token round-trips
    assert(r.getDouble(r.fieldIndex("RH_HMP_Avg")) == 46.0)
  }

  test("writer enforces header/data consistency (D6)") {
    val f = writeFixture()
    val parsed = Toa5.read(spark, f.toString)
    val dropped = parsed.data.drop("TIMESTAMP", "ps_Avg")
    val out = Files.createTempDirectory("toa5e").resolve("bad.dat")
    val ex = intercept[IllegalArgumentException] {
      Toa5.write(dropped, parsed.meta, out.toString)
    }
    assert(ex.getMessage.contains("ps_Avg"))
  }

  // ---- the one body-line encoder behind both TOA5 writers ----

  private val encMeta = graft.core.TableMeta(
    graft.core.FileInfo("TOA5", "Site", "CR3000", "1", "os", "prog", "99", "fast"),
    Seq(graft.core.VariableMeta("TIMESTAMP", "TS", ""),
      graft.core.VariableMeta("d", "m/s", "Avg"),
      graft.core.VariableMeta("f", "degC", "Smp"),
      graft.core.VariableMeta("n", "", "Tot"),
      graft.core.VariableMeta("s", "", "Smp")))

  /** Rows at epoch micros `us` (UTC), one column per cell type. */
  private def encFrame(rows: Seq[(Long, java.lang.Double, java.lang.Float,
      java.lang.Long, String)]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("us", LongType),
      StructField("d", DoubleType), StructField("f", FloatType),
      StructField("n", LongType), StructField("s", StringType)))
    spark.createDataFrame(java.util.Arrays.asList(rows.map(r =>
      Row(r._1, r._2, r._3, r._4, r._5)): _*), schema)
      .select(timestamp_micros(col("us")).as("DATETIME"),
        col("d"), col("f"), col("n"), col("s"))
  }

  private def utcMicros(s: String): Long =
    java.time.LocalDateTime.parse(s.replace(' ', 'T'))
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L

  test("both TOA5 writers encode cells and timestamps to the same golden text") {
    val t0 = utcMicros("2024-03-01 00:00:00")
    val frame = encFrame(Seq(
      (t0 + 100000L, null, 1.5f, 7L, "x y"),
      (t0 + 200000L, java.lang.Double.NaN, -0.25f, -3L, null),
      (t0 + 1000000L, 1.0, 0.1f, Long.MaxValue, "q"),
      (t0 + 1500000L, 1.0e-7, 1.0e10f, null, "a,b"),
      (t0 + 59000000L, 0.1 + 0.2, null, 0L, "")))
    val golden =
      "\"TOA5\",\"Site\",\"CR3000\",\"1\",\"os\",\"prog\",\"99\",\"fast\"\r\n" +
      "\"TIMESTAMP\",\"d\",\"f\",\"n\",\"s\"\r\n" +
      "\"TS\",\"m/s\",\"degC\",\"\",\"\"\r\n" +
      "\"\",\"Avg\",\"Smp\",\"Tot\",\"Smp\"\r\n" +
      "\"2024-03-01 00:00:00\",NAN,1.5,7,\"x y\"\r\n" +
      "\"2024-03-01 00:00:00\",NAN,-0.25,-3,NAN\r\n" +
      "\"2024-03-01 00:00:01\",1.0,0.1,9223372036854775807,\"q\"\r\n" +
      "\"2024-03-01 00:00:01\",1.0E-7,1.0E10,NAN,\"a,b\"\r\n" +
      "\"2024-03-01 00:00:59\",0.30000000000000004,NAN,0,\"\"\r\n"
    val dir = Files.createTempDirectory("toa5enc")
    Toa5.write(frame, encMeta, dir.resolve("one.dat").toString)
    assert(new String(Files.readAllBytes(dir.resolve("one.dat")),
      StandardCharsets.UTF_8) == golden)
    val names = graft.pipeline.FastData.writeShards(frame, encMeta,
      "DATETIME", 1, dir.resolve("shards").toString, "Site")
    assert(names == Seq("Site_2024_03_01_0001.dat"))
    assert(new String(Files.readAllBytes(dir.resolve("shards").resolve(names.head)),
      StandardCharsets.UTF_8) == golden)
  }

  test("TOA5 writers render the session time zone, not the JVM default") {
    val jvm = java.util.TimeZone.getDefault
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    java.util.TimeZone.setDefault(
      java.util.TimeZone.getTimeZone("Australia/Sydney"))
    try {
      val us = utcMicros("2024-03-01 00:30:00")
      val frame = encFrame(Seq((us, 1.5, 2.5f, 1L, "a")))
      val dir = Files.createTempDirectory("toa5tz")
      val out = dir.resolve("tz.dat").toString
      Toa5.write(frame, encMeta, out)
      assert(Files.readAllLines(dir.resolve("tz.dat")).get(4)
        .startsWith("\"2024-03-01 00:30:00\","))
      val back = Toa5.read(spark, out).data
        .select(unix_micros(col("DATETIME"))).collect().map(_.getLong(0))
      assert(back.toSeq == Seq(us))
      val names = graft.pipeline.FastData.writeShards(frame, encMeta,
        "DATETIME", 30, dir.resolve("shards").toString, "F")
      assert(names == Seq("F_2024_03_01_0030.dat"))
      // a session zone with DST rules moves both writers alike (AEDT +11)
      spark.conf.set("spark.sql.session.timeZone", "Australia/Sydney")
      try {
        Toa5.write(frame, encMeta, out)
        assert(Files.readAllLines(dir.resolve("tz.dat")).get(4)
          .startsWith("\"2024-03-01 11:30:00\","))
        assert(graft.pipeline.FastData.writeShards(frame, encMeta, "DATETIME",
          30, dir.resolve("shards_syd").toString, "F") ==
          Seq("F_2024_03_01_1130.dat"))
      } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
    } finally java.util.TimeZone.setDefault(jvm)
  }

  test("Toa5.read reads a session-zone TOA5 file back to the same instants") {
    val us = Seq(utcMicros("2024-01-01 10:00:00"), utcMicros("2024-07-01 10:00:00"))
    val frame = encFrame(us.map(u => (u, 1.5, 2.5f, 1L, "a")))
    val out = Files.createTempDirectory("toa5syd").resolve("syd.dat").toString
    spark.conf.set("spark.sql.session.timeZone", "Australia/Sydney")
    try {
      Toa5.write(frame, encMeta, out)
      // AEDT (+11) in January, AEST (+10) in July
      assert(Files.readAllLines(java.nio.file.Paths.get(out)).asScala
        .drop(4).map(_.take(21)) == Seq(
          "\"2024-01-01 21:00:00\"", "\"2024-07-01 20:00:00\""))
      for (df <- Seq(Toa5.read(spark, out).data,
          spark.read.format("toa5").load(out)))
        assert(df.select(unix_micros(col("DATETIME")).as("us")).orderBy("us")
          .collect().map(_.getLong(0)).toSeq == us)
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  test("Toa5.read reads every file a glob names and nothing else") {
    val dir = Files.createTempDirectory("toa5glob")
    val lines = fixture.split("\r\n")
    Files.write(dir.resolve("a.dat"),
      (lines.take(5).mkString("\r\n") + "\r\n").getBytes(StandardCharsets.UTF_8))
    Files.write(dir.resolve("b.dat"),
      ((lines.take(4) :+ lines(5)).mkString("\r\n") + "\r\n")
        .getBytes(StandardCharsets.UTF_8))
    Files.write(dir.resolve("notes.txt"),
      "not a logger file".getBytes(StandardCharsets.UTF_8))
    val parsed = Toa5.read(spark, s"$dir/*.dat")
    assert(parsed.meta.info.stationName == "TestSite")
    assert(parsed.data.select(date_format(col("DATETIME"), "HH:mm"))
      .orderBy(col("DATETIME")).collect().map(_.getString(0)).toSeq ==
      Seq("00:30", "01:00"))
  }
}
