package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.v2.Toa5V2

/** DataSource V2 TOA5 scan behind `Toa5.read`: row semantics, column
  * pruning, size statistics, quoting, time zone and header checks. */
class Toa5V2Spec extends SparkSpec {

  private def toa5(rows: Seq[String]): String = {
    val h =
      "\"TOA5\",\"Site\",\"CR1000\",\"1\",\"os\",\"prog\",\"1\",\"Tab\"\r\n" +
      "\"TIMESTAMP\",\"Ta\",\"RH\"\r\n" +
      "\"TS\",\"degC\",\"%\"\r\n" +
      "\"\",\"Avg\",\"Avg\"\r\n"
    h + rows.mkString("\r\n") + "\r\n"
  }

  private def writeFile(dir: java.nio.file.Path, name: String,
      rows: Seq[String]): String = {
    val p = dir.resolve(name)
    Files.write(p, toa5(rows).getBytes(UTF_8))
    p.toString
  }

  test("v2 scan equals codec-path read") {
    val dir = Files.createTempDirectory("toa5v2")
    writeFile(dir, "a.dat", Seq(
      "\"2024-01-01 00:30:00\",1.5,50",
      "\"2024-01-01 01:00:00\",NAN,51",
      "\"bad-timestamp\",9,9",
      "\"2024-01-01 01:30:00\",2.5,garbage",
      "\"2024-01-01 02:00:00\",3.5"))  // truncated last line: RH missing
    val v2 = spark.read.format("toa5").load(dir.toString)
      .select("DATETIME", "Ta", "RH").orderBy("DATETIME")
    val codec = graft.sources.Toa5.read(spark, dir.toString).data
      .select("DATETIME", "Ta", "RH").orderBy("DATETIME")
    assert(v2.collect().toSeq == codec.collect().toSeq)
    // bad-timestamp row dropped; NAN and garbage -> null
    assert(v2.select(date_format(col("DATETIME"), "yyyy-MM-dd HH:mm:ss"),
        col("Ta"), col("RH")).collect().toSeq
      .map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2)))) == Seq(
      ("2024-01-01 00:30:00", Some(1.5), Some(50.0)),
      ("2024-01-01 01:00:00", None, Some(51.0)),
      ("2024-01-01 01:30:00", Some(2.5), None),
      ("2024-01-01 02:00:00", Some(3.5), None)))  // short row: RH null
  }

  test("v2 scan prunes columns to the projection") {
    val dir = Files.createTempDirectory("toa5v2p")
    writeFile(dir, "a.dat", Seq("\"2024-01-01 00:30:00\",1.5,50"))
    val df = spark.read.format("toa5").load(dir.toString).select("Ta")
    // DSv2 BatchScan prints its pruned output attributes: [Ta#N]
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan") && plan.matches(
      "(?s).*BatchScan[^\\[]*\\[Ta#\\d+\\].*"), plan)
    assert(df.collect().map(_.getDouble(0)).toSeq == Seq(1.5))
  }

  test("v2 scan accepts glob paths") {
    val dir = Files.createTempDirectory("toa5v2g")
    writeFile(dir, "a.dat", Seq("\"2024-01-01 00:30:00\",1,1"))
    writeFile(dir, "b.dat", Seq("\"2024-01-01 01:00:00\",2,2"))
    Files.write(dir.resolve("notes.txt"), "not a toa5".getBytes(UTF_8))
    val df = spark.read.format("toa5").load(s"$dir/*.dat")
    assert(df.count() == 2)
    assert(Toa5V2.listFiles(s"$dir/*.dat").map(
      p => p.substring(p.lastIndexOf('/') + 1)) == Seq("a.dat", "b.dat"))
  }

  test("v2 scan reads EddyPro files (date+time DATETIME)") {
    val dir = Files.createTempDirectory("toa5v2e")
    val content =
      "DATAH\tfilename\tdate\ttime\tco2_flux\n" +
      "DATAU\t\t[yyyy-mm-dd]\t[HH:MM]\tumol+1m-2s-1\n" +
      "DATA\tf.txt\t2024-01-01\t10:30\t1.25\n" +
      "DATA\tf.txt\tbad-date\t99:99\t2.0\n" +
      "DATA\tf.txt\t2024-01-01\t11:00\tNaN\n"
    Files.write(dir.resolve("ep.txt"), content.getBytes(UTF_8))
    val v2 = spark.read.format("toa5").load(dir.toString)
      .select("DATETIME", "co2_flux").orderBy("DATETIME")
    val codec = graft.sources.Toa5.read(spark, dir.toString).data
      .select("DATETIME", "co2_flux").orderBy("DATETIME")
    assert(v2.collect().toSeq == codec.collect().toSeq)
    val rows = v2.collect()
    assert(rows.length == 2)             // bad date/time row dropped
    assert(rows(0).getDouble(1) == 1.25)
    assert(rows(1).isNullAt(1))          // NaN token -> null
  }

  test("tob v2 scan equals codec-path read and prunes columns") {
    val dir = Files.createTempDirectory("tobv2")
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L
    graft.sources.Tob.writeTob1(s"$dir/a.dat",
      Seq("TOB1", "Site", "CR6", "1", "os", "prog", "1", "Fast"),
      Seq("Ux", "Uy"),
      (0 until 100).map(i => (base + i * 100000L,
        Seq(i.toFloat, -i.toFloat))))
    val v2 = spark.read.format("tob").load(dir.toString)
      .select(unix_micros(col("DATETIME")).as("us"), col("Ux"), col("Uy"))
      .orderBy("us")
    val codec = graft.sources.Tob.decodeTob1(
      Files.readAllBytes(dir.resolve("a.dat")))._1
    assert(v2.collect().toSeq == codec)
    assert(codec.length == 100 && codec(7) ==
      org.apache.spark.sql.Row(base + 700000L, 7.0f, -7.0f))
    val pruned = spark.read.format("tob").load(dir.toString).select("Uy")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*BatchScan[^\\[]*\\[Uy#\\d+\\].*"), plan)
    assert(pruned.agg(min("Uy")).head().getFloat(0) == -99.0f)
  }

  test("filters remain correct when probe keeps extra files") {
    val dir = Files.createTempDirectory("toa5v2f")
    writeFile(dir, "a.dat", Seq(
      "\"2024-01-01 00:30:00\",1,1", "\"2024-03-01 00:30:00\",5,5"))
    // file spans the filter range boundary — rows above the cut must
    // still be filtered by Spark's residual filter
    val df = spark.read.format("toa5").load(dir.toString)
      .filter(col("DATETIME") < lit(java.sql.Timestamp.valueOf("2024-02-01 00:00:00")))
    assert(df.count() == 1)
  }

  test("a quoted cell holding the separator stays one cell") {
    val dir = Files.createTempDirectory("toa5v2q")
    writeFile(dir, "a.dat", Seq(
      "\"2024-01-01 00:30:00\",\"x,y\",50",
      "\"2024-01-01 01:00:00\",\"1.5\",\"51\""))
    for (df <- Seq(spark.read.format("toa5").load(dir.toString),
        graft.sources.Toa5.read(spark, dir.toString).data)) {
      val rows = df.orderBy("DATETIME").select("Ta", "RH").collect()
      assert(rows.map(r => (Option(r.get(0)), r.getDouble(1))).toSeq ==
        Seq((None, 50.0), (Some(1.5), 51.0)))
    }
    val cells = new Toa5V2.Cells(',')
    cells.split("\"a,\"\"b\",c,\"\",d\"e")
    assert((0 until cells.count).map(cells(_)) ==
      Seq("a,\"\"b", "c", "", "d\"e"))
  }

  test("a file whose header differs from the first fails naming it (D7)") {
    val dir = Files.createTempDirectory("toa5v2h")
    writeFile(dir, "a.dat", Seq("\"2024-01-01 00:30:00\",20,50"))
    val swapped = toa5(Seq("\"2024-01-01 01:00:00\",51,21"))
      .replace("\"Ta\",\"RH\"", "\"RH\",\"Ta\"")
    Files.write(dir.resolve("b.dat"), swapped.getBytes(UTF_8))
    val e = intercept[Exception] {
      graft.sources.Toa5.read(spark, dir.toString).data.collect()
    }
    val bad = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case x: IllegalArgumentException => x }
    assert(bad.exists(_.getMessage.contains("b.dat")), e)
  }

  test("the scan reports the listed files' total size") {
    val dir = Files.createTempDirectory("toa5v2st")
    val files = Seq(
      writeFile(dir, "a.dat", Seq("\"2024-01-01 00:30:00\",1,1")),
      writeFile(dir, "b.dat", Seq("\"2024-01-01 01:00:00\",2,2",
        "\"2024-01-01 01:30:00\",3,3")))
    val df = spark.read.format("toa5").load(dir.toString)
    val scan = df.queryExecution.optimizedPlan.collectLeaves()
    assert(scan.map(_.stats.sizeInBytes) ==
      Seq(BigInt(files.map(f => Files.size(java.nio.file.Paths.get(f))).sum)))
  }

  test("the listing skips names starting with . or _") {
    val dir = Files.createTempDirectory("toa5v2hidden")
    writeFile(dir, "a.dat", Seq("\"2024-01-01 00:30:00\",1,1"))
    // both sort before a.dat: the probe used to read them as the header
    Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
    Files.write(dir.resolve(".a.dat.crc"), "crc".getBytes(UTF_8))
    assert(Toa5V2.listFiles(dir.toString).map(
      p => p.substring(p.lastIndexOf('/') + 1)) == Seq("a.dat"))
    assert(graft.sources.Toa5.read(spark, dir.toString).data.count() == 1)
  }

  test("an empty listing or a missing path fails naming the format") {
    val dir = Files.createTempDirectory("toa5v2empty")
    val e = intercept[IllegalArgumentException] {
      graft.sources.Toa5.read(spark, dir.toString)
    }
    assert(e.getMessage == s"no toa5 files under $dir")
    for (format <- Seq("tob", "csixml", "netcdf")) {
      val e2 = intercept[IllegalArgumentException] {
        spark.read.format(format).load(dir.toString)
      }
      assert(e2.getMessage == s"no $format files under $dir")
      val e3 = intercept[IllegalArgumentException](spark.read.format(format).load())
      assert(e3.getMessage.endsWith(s"$format source requires a path"))
    }
  }
}
