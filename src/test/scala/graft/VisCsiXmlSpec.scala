package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.core.{FileInfo, TableMeta, VariableMeta}
import graft.pipeline.{L1Pipeline, VisPipeline}
import graft.sources.CsiXml

class VisCsiXmlSpec extends SparkSpec {
  import spark.implicits._

  test("S10 CSIXML scan: head metadata + records (attrs and values)") {
    val xml =
      """<?xml version="1.0" standalone="yes"?>
        |<csixml version="1.0">
        | <head>
        |  <environment>
        |   <station-name>TestSite</station-name>
        |   <table-name>slow</table-name>
        |   <model>CR1000</model>
        |  </environment>
        |  <fields>
        |   <field name="Ta" units="degC" process="Avg"/>
        |   <field name="RH" units="percent" process="Avg"/>
        |  </fields>
        | </head>
        | <data>
        |  <r time="2024-01-01T00:30:00" no="1"><v>21.5</v><v>45.0</v></r>
        |  <r time="2024-01-01T01:00:00" no="2"><v>21.0</v><v>46.5</v></r>
        |  <r time="bad-time" no="3"><v>1</v><v>2</v></r>
        | </data>
        |</csixml>
        |""".stripMargin
    val dir = Files.createTempDirectory("csixml")
    Files.write(dir.resolve("a.xml"), xml.getBytes(StandardCharsets.UTF_8))
    val parsed = CsiXml.read(spark, dir.toString)
    assert(parsed.meta.info.stationName == "TestSite")
    assert(parsed.meta.variableNames ==
      Seq("TIMESTAMP", "RECORD", "Ta", "RH"))
    val rows = parsed.data.orderBy("RECORD").collect()
    assert(rows.length == 2) // bad-time row dropped (D4)
    assert(rows(0).getTimestamp(0) == Timestamp.valueOf("2024-01-01 00:30:00"))
    assert(rows(0).getDouble(2) == 21.5)
  }

  test("S10 CSIXML write/read roundtrip: nulls as <v/>, escapes, order") {
    val meta = TableMeta(
      FileInfo("CSIXML", "A&B \"Site\"", "CR1000X", "1", "os", "p<g>",
        "1", "slow"),
      Seq(VariableMeta("TIMESTAMP", "TS", ""),
        VariableMeta("RECORD", "RN", ""),
        VariableMeta("Ta", "degC", "Avg"),
        VariableMeta("RH", "percent", "Avg")))
    val t0 = java.time.LocalDateTime.parse("2024-06-01T00:30:00")
    val rows = Seq(
      (t0, 7L, Seq[Any](21.5, null)),
      (t0.plusMinutes(30), 8L, Seq[Any](null, 46.5)),
      (t0.plusMinutes(60), 9L, Seq[Any](1.0E-7, 100.0)))
    val dir = Files.createTempDirectory("csixml_w")
    CsiXml.write(dir.resolve("w.xml").toString, meta, rows)
    val parsed = CsiXml.read(spark, dir.toString)
    assert(parsed.meta.info.stationName == "A&B \"Site\"")
    assert(parsed.meta.variableNames ==
      Seq("TIMESTAMP", "RECORD", "Ta", "RH"))
    val got = parsed.data.orderBy("RECORD").collect()
    assert(got.length == 3)
    assert(got(0).getLong(1) == 7L && got(0).getDouble(2) == 21.5
      && got(0).isNullAt(3))
    assert(got(1).isNullAt(2) && got(1).getDouble(3) == 46.5)
    assert(got(2).getDouble(2) == 1.0E-7)
    assert(got(2).getTimestamp(0) ==
      Timestamp.valueOf("2024-06-01 01:30:00"))
  }

  test("a CSIXML file whose fields differ from the first fails naming it (D7)") {
    def meta(fields: String*) = TableMeta(
      FileInfo("CSIXML", "Site", "CR1000X", "1", "os", "prog", "1", "slow"),
      Seq(VariableMeta("TIMESTAMP", "TS", ""), VariableMeta("RECORD", "RN", "")) ++
        fields.map(VariableMeta(_, "", "Avg")))
    val t0 = java.time.LocalDateTime.parse("2024-06-01T00:30:00")
    val dir = Files.createTempDirectory("csixml_d7")
    CsiXml.write(dir.resolve("a.xml").toString, meta("Ta", "RH"),
      Seq((t0, 1L, Seq[Any](21.5, 45.0))))
    // the same quantities, fields swapped: bound by position, RH
    // would read as Ta
    CsiXml.write(dir.resolve("b.xml").toString, meta("RH", "Ta"),
      Seq((t0.plusMinutes(30), 2L, Seq[Any](46.5, 22.0))))
    val e = intercept[Exception] {
      CsiXml.read(spark, dir.toString).data.collect()
    }
    val bad = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case x: IllegalArgumentException => x }
    assert(bad.exists(_.getMessage.contains("b.xml")), e)
  }

  test("E2 vis pipeline: select nearest, normalise, mask, derive, write") {
    val df = Seq(
      (Timestamp.valueOf("2024-01-01 00:30:00"), 21.5, 18.0, 45.0, 101.3, 9999.0),
      (Timestamp.valueOf("2024-01-01 01:00:00"), 21.0, 17.5, 300.0, 101.2, 9999.0)
    ).toDF("DATETIME", "Ta_HMP_2m_Av", "Ta_HMP_10m_Av", "RH_HMP_2m_Av",
      "ps_EP_Av", "Unwanted_Sd")
    val meta = TableMeta(FileInfo.dummy, Seq(
      VariableMeta("Ta_HMP_2m_Av", "degC", "Avg"),
      VariableMeta("Ta_HMP_10m_Av", "degC", "Avg"),
      VariableMeta("RH_HMP_2m_Av", "percent", "Avg"),
      VariableMeta("ps_EP_Av", "kPa", "Avg"),
      VariableMeta("Unwanted_Sd", "arb", "Sd")))
    val out = Files.createTempDirectory("vis").resolve("vis.dat")
    VisPipeline.buildVisualisationToa5(
      L1Pipeline.Conditioned(df, meta), "DATETIME",
      targets = Seq("Ta", "RH", "ps"), fluxHeight = 3.0,
      plausible = Map("RH" -> (0.0, 100.0)),
      outPath = out.toString)

    val back = graft.sources.Toa5.read(spark, out.toString)
    // nearest to 3m is the 2m Ta; names normalised; Sd dropped
    assert(back.meta.variableNames.contains("Ta_HMP"))
    assert(!back.meta.variableNames.exists(_.contains("10m")))
    assert(!back.meta.variableNames.contains("Unwanted_Sd"))
    // derived quantities present (Ta/RH/ps all available)
    assert(back.meta.variableNames.contains("VPD"))
    assert(back.meta.variableNames.contains("AH"))
    assert(back.meta.variableNames.contains("Td"))
    val rows = back.data.orderBy("DATETIME").collect()
    // RH=300 was masked -> null -> written NAN -> derived VPD null too
    val r1 = rows(1)
    assert(r1.isNullAt(r1.fieldIndex("RH_HMP")))
    assert(r1.isNullAt(r1.fieldIndex("VPD")))
    val r0 = rows(0)
    assert(r0.getDouble(r0.fieldIndex("VPD")) > 0)
  }
}
