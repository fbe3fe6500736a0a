package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.v2.Toa5V2

/** DataSource V2 TOA5 scan: codec-path equivalence, column pruning,
  * and file-level time-range pruning. */
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
    assert(v2.count() == 4)  // bad-timestamp row dropped
    val short = v2.collect().last
    assert(short.getDouble(1) == 3.5 && short.isNullAt(2))
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

  test("file time-span probe and overlap pruning") {
    val dir = Files.createTempDirectory("toa5v2s")
    val jan = writeFile(dir, "jan.dat", Seq(
      "\"2024-01-01 00:30:00\",1,1", "\"2024-01-31 23:30:00\",2,2"))
    val feb = writeFile(dir, "feb.dat", Seq(
      "\"2024-02-01 00:30:00\",3,3", "\"2024-02-28 23:30:00\",4,4"))
    val janSpan = Toa5V2.fileTimeSpan(jan).get
    assert(janSpan._1 == Toa5V2.parseTsMicros("2024-01-01 00:30:00"))
    assert(janSpan._2 == Toa5V2.parseTsMicros("2024-01-31 23:30:00"))
    val febOnly = (Toa5V2.parseTsMicros("2024-02-01 00:00:00"), Long.MaxValue)
    assert(!Toa5V2.overlaps(jan, febOnly))
    assert(Toa5V2.overlaps(feb, febOnly))
    // end-to-end: filter past January must still return feb rows only
    val df = spark.read.format("toa5").load(dir.toString)
      .filter(col("DATETIME") >= lit(java.sql.Timestamp.valueOf("2024-02-01 00:00:00")))
    assert(df.count() == 2)
    assert(df.agg(min("Ta")).head().getDouble(0) == 3.0)
    // spanPruning=false disables the probe: same rows, no file pruned
    val noPrune = spark.read.format("toa5")
      .option("spanPruning", "false").load(dir.toString)
      .filter(col("DATETIME") >= lit(java.sql.Timestamp.valueOf("2024-02-01 00:00:00")))
    assert(noPrune.count() == 2)
  }

  test("non-monotonic file: mid-row excursion survives via spanPruning=false") {
    val dir = Files.createTempDirectory("toa5v2nm")
    // logger clock stepped back mid-file: an interior March row inside
    // a January-spanning file
    writeFile(dir, "odd.dat", Seq(
      "\"2024-01-01 00:30:00\",1,1",
      "\"2024-03-15 12:00:00\",9,9",
      "\"2024-01-31 23:30:00\",2,2"))
    val marchOnly = col("DATETIME") >=
      lit(java.sql.Timestamp.valueOf("2024-03-01 00:00:00"))
    val noPrune = spark.read.format("toa5")
      .option("spanPruning", "false").load(dir.toString)
      .filter(marchOnly)
    assert(noPrune.count() == 1)
    assert(noPrune.head().getDouble(1) == 9.0)
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
      .select("DATETIME", "Ux", "Uy").orderBy("DATETIME")
    val codec = graft.sources.Tob.read(spark, dir.toString).data
      .select("DATETIME", "Ux", "Uy").orderBy("DATETIME")
    assert(v2.collect().toSeq == codec.collect().toSeq)
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
}
