package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.TaskBridge

import graft.core.{FileInfo, TableMeta, VariableMeta}
import graft.functions.Conversions
import graft.operators.JoinOps
import graft.pipeline.{L1Pipeline, MergeLegality}
import graft.pipeline.L1Pipeline.Conditioned

class L1PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def meta(vars: (String, String)*): TableMeta =
    TableMeta(FileInfo.dummy,
      vars.map { case (n, u) => VariableMeta(n, u, "Avg") })

  /** attrs.json parsed by a real JSON parser, so escaping is checked. */
  private def readAttrs(dir: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(new java.io.File(s"$dir/attrs.json"),
        classOf[java.util.Map[String, String]]).asScala.toMap
  }

  test("condition: rename + dedup + regularize (DataHandler chain)") {
    val df = Seq(
      (ts("2024-01-01 00:30:00"), 1.0, 9.9),
      (ts("2024-01-01 00:30:00"), 1.0, 9.9),     // exact dup
      (ts("2024-01-01 01:30:00"), 3.0, 9.9)      // 01:00 missing
    ).toDF("DATETIME", "Ta_site", "junk")
    val out = L1Pipeline.condition(
      Conditioned(df, meta(("Ta_site", "degC"), ("junk", ""))),
      "DATETIME", 1800, Map("Ta_site" -> "Ta"))
    assert(out.df.columns.toSeq == Seq("DATETIME", "Ta"))
    assert(out.df.count() == 3) // grid restored the missing tick
    assert(out.meta.variableNames == Seq("Ta"))
  }

  test("condition plans one timestamp-keyed aggregate: D2 subsumes D1") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val df = Seq(
      (ts("2024-01-01 00:30:00"), 1.0, 9.9),
      (ts("2024-01-01 00:30:00"), 1.0, 9.9),
      (ts("2024-01-01 01:30:00"), 3.0, 9.9)
    ).toDF("DATETIME", "Ta_site", "junk")
    val out = L1Pipeline.condition(
      Conditioned(df, meta(("Ta_site", "degC"), ("junk", ""))),
      "DATETIME", 1800, Map("Ta_site" -> "Ta"))
    val aggs = out.df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }
    // the other aggregate is regularize's global min/max grid bounds
    val keyed = aggs.filter(_.groupingExpressions.nonEmpty)
    assert(keyed.size == 1, aggs.mkString("\n"))
    assert(keyed.head.groupingExpressions.flatMap(_.references.map(_.name)) ==
      Seq("DATETIME"))
    assert(out.df.count() == 3)
  }

  test("mergeOnTime full-outer aligns sources (J3)") {
    val a = Conditioned(Seq((ts("2024-01-01 00:30:00"), 1.0))
      .toDF("DATETIME", "Ta"), meta(("Ta", "degC")))
    val b = Conditioned(Seq((ts("2024-01-01 01:00:00"), 55.0))
      .toDF("DATETIME", "RH"), meta(("RH", "percent")))
    val m = L1Pipeline.mergeOnTime(Seq(a, b), "DATETIME")
    assert(m.df.count() == 2)
    assert(m.df.columns.toSet == Set("DATETIME", "Ta", "RH"))
    assert(m.meta.variableNames.sorted == Seq("RH", "Ta"))
  }

  /** Three half-hourly frames on `DATETIME`: `Ta` and `RH` overlap on
    * four ticks, `Fc` is disjoint from both, and each has null cells,
    * some on shared ticks. */
  private def mergeInputs: Seq[Seq[(Timestamp, Option[Double])]] = {
    val t0 = ts("2024-01-01 00:00:00").getTime
    def at(i: Int) = new Timestamp(t0 + i * 1800000L)
    Seq(
      (0 until 8).map(i => (at(i), Option.when(i % 3 != 0)(i * 1.0))),
      (4 until 12).map(i => (at(i), Option.when(i % 4 != 1)(i * 10.0))),
      (20 until 24).map(i => (at(i), Option.when(i != 21)(i * 100.0))))
  }

  for (n <- Seq(1, 3, 7)) {
    test(s"mergeOnTime equals a driver-side merge at $n shuffle partitions") {
      val confs = Map("spark.sql.shuffle.partitions" -> n.toString,
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
      val old = confs.keys.map(k => k -> spark.conf.get(k)).toMap
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val names = Seq("Ta", "RH", "Fc")
        val inputs = mergeInputs
        val frames = inputs.zip(names).map { case (rows, v) =>
          rows.toDF("DATETIME", v) }
        val merged = JoinOps.mergeOnTime(frames, Seq("DATETIME"))
        val (got, r) = graft.obs.Meter.on(spark).span("mergeOnTime") {
          merged.select((col("DATETIME") +: names.map(col)): _*).collect()
            .map(row => (row.getTimestamp(0), (1 to 3).map(i =>
              Option.unless(row.isNullAt(i))(row.getDouble(i)))))
            .sortBy(_._1.getTime).toSeq
        }
        val cells = inputs.map(_.toMap)
        val want = cells.flatMap(_.keys).distinct.sortBy(_.getTime)
          .map(t => (t, cells.map(_.getOrElse(t, None))))
        assert(got == want)
        // one shuffled hash join per fold step: no sort-merge join's
        // input sorts, and no broadcast
        assert(r.census.joins == Map("shj" -> (frames.size - 1)),
          r.census.joinLine)
        // both steps run in the last stage, and their hashed sides take
        // a page that the join does not report: the meter sees it in
        // the task memory manager's peak
        val merge = r.stagePeaks.last
        assert(merge.tasks == n, r.stagePeaks)
        assert(merge.acquiredBytes >= TaskBridge.pageSizeBytes(spark) &&
          merge.acquiredBytes > merge.execBytes, merge)
      } finally old.foreach { case (k, v) => spark.conf.set(k, v) }
    }
  }

  test("convertUnits updates frame and catalog in lockstep (F12/#9)") {
    val c = Conditioned(
      Seq((ts("2024-01-01 00:30:00"), 101300.0)).toDF("DATETIME", "ps"),
      meta(("ps", "Pa")))
    val out = L1Pipeline.convertUnits(c,
      Map("ps" -> ((Conversions.paToKpa _, "kPa"))))
    assert(out.df.head().getDouble(1) == 101.3)
    assert(out.meta.variables.head.units == "kPa")
  }

  test("lake write partitions by end-labelled year and round-trips (K4/K5/J4)") {
    val c = Conditioned(Seq(
      (ts("2024-01-01 00:00:00"), 1.0),  // end-label -> belongs to 2023
      (ts("2024-06-01 00:00:00"), 2.0),
      (ts("2025-01-01 00:00:00"), Double.NaN)
    ).toDF("DATETIME", "Ta")
      .withColumn("Ta", when(isnan(col("Ta")), lit(null)).otherwise(col("Ta"))),
      meta(("Ta", "degC")))
    val dir = Files.createTempDirectory("lake").toString
    L1Pipeline.writeLake(c, "DATETIME", 1800, dir, "TestSite")

    val years = spark.read.parquet(s"$dir/data")
      .select("year").distinct().as[Int].collect().sorted
    assert(years.toSeq == Seq(2023, 2024))
    val flags = spark.read.parquet(s"$dir/data")
      .filter(col("Ta").isNull).select("Ta_QCFlag").as[Int].collect()
    assert(flags.toSeq == Seq(1))
    val back = L1Pipeline.readLake(spark, dir, Seq(2024))
    assert(back.count() == 2)
    assert(!back.columns.exists(_.endsWith("_QCFlag")))
    val attrs = readAttrs(dir)
    assert(attrs("site") == "TestSite")
    assert(attrs("time_coverage_start") == "2024-01-01 00:00:00")
    assert(attrs("time_coverage_end") == "2025-01-01 00:00:00")
  }

  test("writeLake runs exactly one Spark execution") {
    val c = Conditioned(Seq(
      (ts("2024-01-01 00:30:00"), 1.0), (ts("2024-01-01 01:00:00"), 2.0))
      .toDF("DATETIME", "Ta"), meta(("Ta", "degC")))
    val dir = Files.createTempDirectory("lake1").toString
    val (_, r) = graft.obs.Meter.on(spark).span("writeLake") {
      L1Pipeline.writeLake(c, "DATETIME", 1800, dir, "TestSite")
    }
    val events = r.executions.map(_.funcName)
    assert(events.size == 1, s"executions: $events")
  }

  test("writeLake refuses a frame with no rows by site name") {
    val empty = Conditioned(Seq((ts("2024-01-01 00:30:00"), 1.0))
      .toDF("DATETIME", "Ta").filter(lit(false)), meta(("Ta", "degC")))
    val dir = Files.createTempDirectory("lake0").toString
    val e = intercept[IllegalArgumentException] {
      L1Pipeline.writeLake(empty, "DATETIME", 1800, dir, "EmptySite")
    }
    assert(e.getMessage == "writeLake: no rows for site EmptySite")
  }

  test("attrs.json stays valid JSON for backslash, quote and control chars") {
    val units = "a\\b \"q\" r\rn\n\u0001"
    val c = Conditioned(Seq((ts("2024-01-01 00:30:00"), 1.0))
      .toDF("DATETIME", "Ta"), meta(("Ta", units)))
    val dir = Files.createTempDirectory("lakej").toString
    L1Pipeline.writeLake(c, "DATETIME", 1800, dir, "Site\tA\r\n\u0001")
    val attrs = readAttrs(dir)
    assert(attrs("site") == "Site\tA\r\n\u0001")
    assert(attrs("variables") == s"Ta:$units:Avg")
  }

  test("netCDF-3 classic roundtrip: header, attrs, record interleave (K4)") {
    import graft.sources.NetCdf
    import graft.sources.NetCdf._
    val dir = Files.createTempDirectory("nc").toString
    val ds = Dataset(
      Seq(Dim("time", 0), Dim("latitude", 1), Dim("longitude", 1)),
      Seq("title" -> TextAttr("t"), "nc_nrecs" -> IntAttr(Seq(3)),
        "latitude" -> DoubleAttr(Seq(-35.5))),
      Seq(
        Var("time", Seq(0), NcDouble,
          Seq("units" -> TextAttr("seconds since 1800-01-01 00:00:00.0")),
          Array(1.0, 2.0, 3.0)),
        Var("latitude", Seq(1), NcDouble, Nil, Array(-35.5)),
        Var("Ta", Seq(0, 1, 2), NcDouble,
          Seq("units" -> TextAttr("degC")),
          Array(20.5, Double.NaN, 21.25)),
        Var("Ta_QCFlag", Seq(0, 1, 2), NcInt,
          Seq("units" -> TextAttr("1")), Array(0.0, 1.0, 0.0))))
    NetCdf.write(s"$dir/t.nc", ds)
    val bytes = Files.readAllBytes(java.nio.file.Path.of(s"$dir/t.nc"))
    assert(bytes(0) == 'C' && bytes(1) == 'D' && bytes(2) == 'F'
      && bytes(3) == 1)
    val back = NetCdf.read(s"$dir/t.nc")
    assert(back.dims == ds.dims)
    assert(back.globalAttrs == ds.globalAttrs)
    assert(back.vars.map(_.name) == ds.vars.map(_.name))
    val ta = back.vars.find(_.name == "Ta").get
    assert(ta.attrs == Seq("units" -> TextAttr("degC")))
    assert(ta.data(0) == 20.5 && ta.data(1).isNaN && ta.data(2) == 21.25)
    assert(back.vars.find(_.name == "Ta_QCFlag").get.data.toSeq ==
      Seq(0.0, 1.0, 0.0))
    assert(back.numRecs == 3)
    // STREAMING marker: numrecs = 0xFFFFFFFF derives the count from
    // the file size instead of crashing
    val bytes2 = Files.readAllBytes(java.nio.file.Path.of(s"$dir/t.nc"))
    bytes2(4) = -1; bytes2(5) = -1; bytes2(6) = -1; bytes2(7) = -1
    val streamed = NetCdf.parse(bytes2)
    assert(streamed.vars.find(_.name == "Ta").get.data.length == 3)
    assert(streamed.vars.find(_.name == "Ta").get.data(2) == 21.25)
  }

  test("yearly netCDF product from the lake + scan seam (K4/S11)") {
    val c = Conditioned(Seq(
      (ts("2024-01-01 00:30:00"), 1.5),
      (ts("2024-01-01 01:00:00"), Double.NaN),
      (ts("2024-01-01 01:30:00"), 3.25)
    ).toDF("DATETIME", "Ta")
      .withColumn("Ta", when(isnan(col("Ta")), lit(null)).otherwise(col("Ta"))),
      meta(("Ta", "degC")))
    val dir = Files.createTempDirectory("ncy").toString
    L1Pipeline.writeLake(c, "DATETIME", 1800, dir, "TestSite")
    val nc = s"$dir/TestSite_2024_L1.nc"
    L1Pipeline.writeNetCdfYear(spark, dir, 2024, "TestSite",
      -35.5, 148.25, 1800, nc,
      varAttrs = Map("Ta" -> Seq(
        "long_name" -> graft.sources.NetCdf.TextAttr("Air temperature"),
        "units" -> graft.sources.NetCdf.TextAttr("degC"))))
    import graft.sources.NetCdf
    val ds = NetCdf.read(nc)
    assert(ds.numRecs == 3)
    val g = ds.globalAttrs.toMap
    assert(g("title") == NetCdf.TextAttr(
      "Flux tower data set from the TestSite site for the calendar year 2024"))
    assert(g("nc_nrecs") == NetCdf.IntAttr(Seq(3)))
    assert(g("time_coverage_start") == NetCdf.TextAttr("2024-01-01 00:30:00"))
    assert(ds.vars.map(_.name).take(4) ==
      Seq("time", "latitude", "longitude", "crs"))
    val timeVar = ds.vars.find(_.name == "time").get
    assert(timeVar.attrs.toMap.apply("units") ==
      NetCdf.TextAttr("seconds since 1800-01-01 00:00:00.0"))
    // time value: 2024-01-01 00:30 UTC in seconds since 1800
    val expect0 = ts("2024-01-01 00:30:00").getTime / 1000.0 -
      NetCdf.Epoch1800Sec
    assert(timeVar.data(0) == expect0)
    // scan seam back to a frame: values and flags round-trip
    val back = L1Pipeline.readNetCdf(spark, nc)
      .orderBy("DATETIME").collect()
    assert(back.length == 3)
    assert(back(0).getDouble(back(0).fieldIndex("Ta")) == 1.5)
    assert(back(1).isNullAt(back(1).fieldIndex("Ta")))
    assert(back(1).getInt(back(1).fieldIndex("Ta_QCFlag")) == 1)
    assert(back(2).getDouble(back(2).fieldIndex("Ta")) == 3.25)
    // distributed directory read: per-file decode, union of years
    val ncDir = s"$dir/products"
    java.nio.file.Files.createDirectories(java.nio.file.Path.of(ncDir))
    java.nio.file.Files.copy(java.nio.file.Path.of(nc),
      java.nio.file.Path.of(s"$ncDir/y2024.nc"))
    java.nio.file.Files.copy(java.nio.file.Path.of(nc),
      java.nio.file.Path.of(s"$ncDir/y2024b.nc"))
    val multi = L1Pipeline.readNetCdf(spark, ncDir)
    assert(multi.count() == 6)
    assert(multi.filter(col("Ta").isNull).count() == 2)
  }

  test("task registry: matrix queries, dispatch, failure capture") {
    import graft.pipeline.TaskRegistry
    val csv =
      """Site,generate_L1,write_status
        |Calperum,True,True
        |Boyagin,False,True
        |""".stripMargin
    val m = TaskRegistry.fromCsv(csv)
    assert(m.siteList == Seq("Calperum", "Boyagin"))
    assert(m.sitesForTask("generate_L1") == Seq("Calperum"))
    assert(m.sitesForTask("generate_L1", disabled = true) == Seq("Boyagin"))
    assert(m.tasksForSite("Boyagin") == Seq("write_status"))
    val m2 = m.withStatus("Boyagin", "generate_L1", status = true)
    assert(m2.sitesForTask("generate_L1") == Seq("Calperum", "Boyagin"))
    assert(TaskRegistry.fromCsv(m2.toCsv) == m2)
    intercept[IllegalArgumentException] { m.sitesForTask("nope") }

    // dispatch: site task fans over enabled sites, failures captured
    var ran = List.empty[String]
    val outcomes = TaskRegistry.runTask(m2, "generate_L1",
      siteTasks = Map("generate_L1" -> { site: String =>
        if (site == "Boyagin") sys.error("no data") else ran ::= site
      }))
    assert(ran == List("Calperum"))
    assert(outcomes.map(o => (o.site.get, o.ok)) ==
      Seq(("Calperum", true), ("Boyagin", false)))
    assert(outcomes(1).error.get.contains("no data"))
    // network task runs once; unknown task refuses
    val net = TaskRegistry.runTask(m2, "rebuild_index",
      siteTasks = Map.empty,
      networkTasks = Map("rebuild_index" -> (() => ())))
    assert(net == Seq(TaskRegistry.Outcome(None, "rebuild_index", true, None)))
    intercept[NotImplementedError] {
      TaskRegistry.runTask(m2, "nope", Map.empty)
    }
  }

  test("merge legality: unit aliases ok, conflicts flagged (J2)") {
    val master = Conditioned(
      Seq((ts("2024-01-01 00:30:00"), 1.0), (ts("2024-01-01 01:00:00"), 2.0))
        .toDF("DATETIME", "Ta"), meta(("Ta", "degC")))
    val cand = Conditioned(
      Seq((ts("2024-01-01 01:30:00"), 3.0), (ts("2024-01-01 02:00:00"), 4.0))
        .toDF("DATETIME", "Ta"), meta(("Ta", "C")))
    val r = MergeLegality.analyse(master.df, master.meta, cand.df, cand.meta,
      "DATETIME")
    assert(r.legal && r.contributesNewDates && r.sameInterval)
    assert(r.unitConflicts.isEmpty) // degC ~ C alias

    val bad = cand.copy(meta = meta(("Ta", "K")))
    val r2 = MergeLegality.analyse(master.df, master.meta, bad.df, bad.meta,
      "DATETIME")
    assert(!r2.legal && r2.unitConflicts == Seq(("Ta", "degC", "K")))
  }
}
