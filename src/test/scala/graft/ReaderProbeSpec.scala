package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.core.{FileInfo, TableMeta, VariableMeta}
import graft.obs.Meter
import graft.pipeline.L1Pipeline
import graft.sources.{CsiXml, NetCdf, Toa5}

/** Every logger-file reader takes its schema from the first file on
  * the driver: building the frame runs no Spark job. */
class ReaderProbeSpec extends SparkSpec {

  /** `read`'s result and the number of Spark jobs it started. */
  private def jobsDuring[A](read: => A): (A, Int) = {
    val (out, r) = Meter.on(spark).span("read")(read)
    (out, r.jobs.size)
  }

  test("readNetCdf of a directory runs no Spark job before an action") {
    import NetCdf._
    val dir = Files.createTempDirectory("ncprobe")
    val ds = Dataset(
      Seq(Dim("time", 0), Dim("latitude", 1), Dim("longitude", 1)),
      Seq("title" -> TextAttr("t")),
      Seq(
        Var("time", Seq(0), NcDouble,
          Seq("units" -> TextAttr("seconds since 1800-01-01 00:00:00.0")),
          Array(1.0, 2.0)),
        Var("Ta", Seq(0, 1, 2), NcDouble, Nil, Array(20.5, Double.NaN)),
        Var("Ta_QCFlag", Seq(0, 1, 2), NcInt, Nil, Array(0.0, 1.0))))
    NetCdf.write(dir.resolve("y1.nc").toString, ds)
    NetCdf.write(dir.resolve("y2.nc").toString, ds)
    val (df, jobs) = jobsDuring(L1Pipeline.readNetCdf(spark, dir.toString))
    assert(jobs == 0)
    assert(df.columns.toSeq == Seq("DATETIME", "Ta", "Ta_QCFlag"))
    assert(df.count() == 4)
    assert(df.filter(col("Ta").isNull).count() == 2)
  }

  test("CsiXml.read runs no Spark job before an action") {
    val meta = TableMeta(
      FileInfo("CSIXML", "Site", "CR1000X", "1", "os", "prog", "1", "slow"),
      Seq(VariableMeta("TIMESTAMP", "TS", ""),
        VariableMeta("RECORD", "RN", ""),
        VariableMeta("Ta", "degC", "Avg")))
    val t0 = java.time.LocalDateTime.parse("2024-06-01T00:30:00")
    val dir = Files.createTempDirectory("csiprobe")
    CsiXml.write(dir.resolve("a.xml").toString, meta,
      Seq((t0, 1L, Seq[Any](21.5)), (t0.plusMinutes(30), 2L, Seq[Any](null))))
    val (parsed, jobs) = jobsDuring(CsiXml.read(spark, dir.toString))
    assert(jobs == 0)
    assert(parsed.meta.info.stationName == "Site")
    assert(parsed.data.count() == 2)
  }

  test("Toa5.read of a directory runs no Spark job before an action") {
    val dir = Files.createTempDirectory("toa5probe")
    val header =
      "\"TOA5\",\"Site\",\"CR1000\",\"1\",\"os\",\"prog\",\"1\",\"Tab\"\r\n" +
      "\"TIMESTAMP\",\"Ta\"\r\n\"TS\",\"degC\"\r\n\"\",\"Avg\"\r\n"
    for ((f, ts) <- Seq("a.dat" -> "2024-01-01 00:30:00", "b.dat" -> "2024-01-02 00:30:00"))
      Files.writeString(dir.resolve(f), header + s"\"$ts\",1.5\r\n")
    val (parsed, jobs) = jobsDuring(Toa5.read(spark, dir.toString))
    assert(jobs == 0)
    assert(parsed.meta.info.stationName == "Site")
    assert(parsed.data.count() == 2)
  }
}
