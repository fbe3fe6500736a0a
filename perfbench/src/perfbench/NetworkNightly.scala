package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{Instant, ZoneOffset}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.TableMeta
import graft.functions.Conversions
import graft.operators.TimeSeriesOps
import graft.pipeline.{L1Pipeline, Status, TaskRegistry}
import graft.pipeline.L1Pipeline.Conditioned
import graft.sources.Toa5

/** The reference's nightly cron job at network scale: every site's
  * year of half-hourly logger files becomes a year-partitioned L1
  * lake (site task `l1`), the flux site's 10 Hz TOB3 days become
  * 30-minute TOA5 shards (site task `fast`, [[FastDataBulk]]), then
  * one network task (`status`) reads all lakes back and writes the
  * staleness geojson and site-details JSON. The `l1` tasks are many
  * small text files and many small Spark jobs, so driver planning and
  * per-job overhead dominate them; the `fast` task is a few large
  * binary files and one big shuffle, dominated by per-row decode and
  * the shard writer. */
object NetworkNightly extends Workload {
  val Sites = 4
  /** The one site with a fast-data (10 Hz) logger. */
  val FastSite: String = siteName(1)
  val Step = 1800L
  private val Ticks = 17520
  private val FirstTick = Instant.parse("2023-01-01T00:30:00Z").getEpochSecond
  private val Now = Instant.parse("2024-01-01T06:00:00Z").getEpochSecond
  private val DaySec = 86400.0

  private final case class Table(name: String, vars: Seq[(String, String, String)])
  private val Flux = Table("flux", Seq(("RECORD", "RN", ""),
    ("Ta_K", "K", "Avg"), ("Fc", "umol/m^2/s", "Avg"), ("n_samp", "n", "Tot")))
  private val Met = Table("met", Seq(("RECORD", "RN", ""),
    ("RH_frac", "frac", "Avg"), ("Sws", "m^3/m^3", "Avg"), ("Vbat", "V", "Smp")))

  /** Ground truth of one logger table: body lines written, lines with
    * an unparseable timestamp, extra copies of valid lines (injected
    * duplicates and month overlaps), and distinct valid ticks. */
  final case class TableTruth(rawLines: Int, badTsLines: Int,
      dupLines: Int, validTicks: Int)
  final case class SiteTruth(site: String, lat: Double, lon: Double,
      flux: TableTruth, met: TableTruth, gridLen: Int,
      implausibleTa: Int, implausibleFc: Int, nanFc: Int,
      implausibleRh: Int, lastTs: Long, lastValidFc: Long)

  @volatile private var truth: Map[String, SiteTruth] = Map.empty

  private val TsFormat =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private def at(k: Int) =
    Instant.ofEpochSecond(FirstTick + k * Step).atOffset(ZoneOffset.UTC)
  private def tsString(k: Int): String = at(k).format(TsFormat)
  /** Calendar month of the file a tick lands in; the year-end tick
    * (2024-01-01 00:00, end of the last interval) closes December. */
  private def month(k: Int): Int =
    if (at(k).getYear > 2023) 12 else at(k).getMonthValue

  private def header(site: String, t: Table): String = {
    def q(xs: Seq[String]) = xs.map(x => "\"" + x + "\"").mkString(",")
    Seq(q(Seq("TOA5", site, "CR3000", "1234", "CR3000.Std.32",
        s"CPU:${t.name}.CR3", "4321", t.name)),
      q("TIMESTAMP" +: t.vars.map(_._1)),
      q("TS" +: t.vars.map(_._2)),
      q("" +: t.vars.map(_._3))).mkString("", "\r\n", "\r\n")
  }

  /** Fixed-point rendering, `digits` decimals; NaN is the TOA5 NA token. */
  private def fmt(d: Double, digits: Int): String =
    if (d.isNaN) "\"NAN\""
    else java.math.BigDecimal.valueOf(d)
      .setScale(digits, java.math.RoundingMode.HALF_UP).toPlainString

  /** Writes one table as monthly files: each file repeats the last day
    * of the previous one, ~1% of lines are written twice, and ~0.3% of
    * interior ticks carry an unparseable timestamp. */
  private def writeTable(dir: Path, site: String, t: Table, endIdx: Int,
      rng: scala.util.Random, values: Int => Seq[String])
      : (TableTruth, Seq[Int]) = {
    Files.createDirectories(dir)
    val byMonth = Array.fill(13)(Vector.newBuilder[(String, Boolean)])
    val valid = Vector.newBuilder[Int]
    for (k <- 0 to endIdx) {
      val bad = k > 0 && k < endIdx && rng.nextDouble() < 0.003
      val ts = if (bad) (if (rng.nextBoolean()) "\"NAN\"" else
        "\"2023-13-40 25:61:00\"") else "\"" + tsString(k) + "\""
      val line = (ts +: values(k)).mkString(",")
      val m = month(k)
      byMonth(m) += ((line, bad))
      if (!bad) {
        valid += k
        if (rng.nextDouble() < 0.01) byMonth(m) += ((line, bad))
      }
    }
    val hdr = header(site, t)
    var raw = 0; var badLines = 0
    var prev = Vector.empty[(String, Boolean)]
    for (m <- 1 to 12) {
      val own = byMonth(m).result()
      if (own.nonEmpty) {
        val lines = prev.takeRight(48) ++ own
        raw += lines.size; badLines += lines.count(_._2)
        Files.write(dir.resolve(f"${site}_${t.name}_2023_$m%02d.dat"),
          (hdr + lines.map(_._1).mkString("", "\r\n", "\r\n"))
            .getBytes(StandardCharsets.US_ASCII))
      }
      prev = own
    }
    val ks = valid.result()
    (TableTruth(raw, badLines, raw - badLines - ks.size, ks.size), ks)
  }

  def siteName(i: Int): String = f"Site$i%02d"
  private def fastDir(in: Path, site: String): Path =
    in.resolve("sites").resolve(site).resolve("fast")

  def generate(spark: SparkSession, seed: Long, in: Path): Unit = {
    val sites = (1 to Sites).map { i =>
      val rng = new scala.util.Random(seed * 7919L + i)
      val site = siteName(i)
      val endIdx = Ticks - 1 - rng.nextInt(10 * 48)       // staleness
      val fcDrop = rng.nextInt(4 * 48)                    // Fc sensor out
      val dir = in.resolve("sites").resolve(site)
      // values are drawn per tick up front so both tables' files see
      // the same series whatever their line layout
      val ta = Array.tabulate(endIdx + 1)(k =>
        if (rng.nextDouble() < 0.06) 9999.0
        else 288.15 + 10 * math.sin(2 * math.Pi * k / 48) + rng.nextGaussian())
      val fc = Array.tabulate(endIdx + 1)(k =>
        if (k > endIdx - fcDrop) Double.NaN
        else if (rng.nextDouble() < 0.06) 555.55 else 5 * rng.nextGaussian())
      val rh = Array.tabulate(endIdx + 1)(_ =>
        if (rng.nextDouble() < 0.06) 1.5 else 0.2 + 0.79 * rng.nextDouble())
      val rnd = Array.tabulate(endIdx + 1)(_ => rng.nextDouble())
      val (flux, fluxValid) = writeTable(dir.resolve("flux"), site, Flux, endIdx, rng,
        k => Seq(k.toString, fmt(ta(k), 2), fmt(fc(k), 2),
          (1 + (rnd(k) * 100).toInt).toString))
      // the met table's bad ticks differ from the flux table's
      val metBad = new scala.util.Random(seed * 104729L + i)
      val (met, metValid) = writeTable(dir.resolve("met"), site, Met, endIdx, metBad,
        k => Seq(k.toString, fmt(rh(k), 3), fmt(0.1 + 0.3 * rnd(k), 3),
          fmt(12 + rnd(k), 2)))
      val plausible = (x: Double, lo: Double, hi: Double) =>
        !x.isNaN && x >= lo && x <= hi
      val taBad = fluxValid.count(k => !plausible(ta(k) - 273.15, -40, 60))
      val fcNan = fluxValid.count(k => fc(k).isNaN)
      val fcBad = fluxValid.count(k =>
        !fc(k).isNaN && !plausible(fc(k), -100, 100))
      val rhBad = metValid.count(k => !plausible(rh(k) * 100, 0, 100))
      val lastFc = fluxValid.filter(k => plausible(fc(k), -100, 100)).max
      SiteTruth(site, -40 + 30 * rng.nextDouble(), 115 + 35 * rng.nextDouble(),
        flux, met, endIdx + 1, taBad, fcBad, fcNan, rhBad,
        FirstTick + endIdx * Step, FirstTick + lastFc * Step)
    }
    truth = sites.map(s => s.site -> s).toMap
    FastDataBulk.generate(seed, fastDir(in, FastSite))
    // the task matrix: every site runs l1, the flux site also fast;
    // two decommissioned rows are in the matrix with every task off
    val rows = sites.map(s => s"${s.site},True,${
      if (s.site == FastSite) "True" else "False"},False") ++
      Seq(s"${siteName(Sites + 1)},False,False,False",
        s"${siteName(Sites + 2)},False,False,False")
    Files.write(in.resolve("tasks.csv"),
      ("Site,l1,fast,vis" +: rows).mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
    Json.write(in.resolve("truth.json"), Map(
      "now" -> Instant.ofEpochSecond(Now).toString,
      "sites" -> sites.map(s => Map(
        "site" -> s.site, "grid_rows" -> s.gridLen,
        "tables" -> Map("flux" -> tableJson(s.flux), "met" -> tableJson(s.met)),
        "implausible" -> Map("Ta" -> s.implausibleTa, "Fc" -> s.implausibleFc,
          "RH" -> s.implausibleRh),
        "nan" -> Map("Fc" -> s.nanFc),
        "last_ts" -> Instant.ofEpochSecond(s.lastTs).toString,
        "last_valid" -> Map("Fc" -> Instant.ofEpochSecond(s.lastValidFc).toString)))))
  }

  private def tableJson(t: TableTruth) = Map("raw_lines" -> t.rawLines,
    "bad_timestamps" -> t.badTsLines, "duplicate_lines" -> t.dupLines,
    "valid_ticks" -> t.validTicks)

  private def bounded(meta: TableMeta, b: Map[String, (Double, Double)]) =
    meta.copy(variables = meta.variables.map(v => b.get(v.name).fold(v) {
      case (lo, hi) => v.copy(plausibleMin = Some(lo), plausibleMax = Some(hi)) }))

  private def siteTask(spark: SparkSession, t: Tracer, in: Path,
      lakeRoot: Path, site: String): Unit = {
    val st = truth(site)
    val dir = in.resolve("sites").resolve(site)
    val (fluxP, metP) = t.span("sources.toa5_read") {
      (Toa5.read(spark, dir.resolve("flux").toString),
        Toa5.read(spark, dir.resolve("met").toString))
    }
    val inFlux = Observation(); val inMet = Observation(); val outObs = Observation()
    val (cf, cm) = t.span("pipeline.condition") {
      // the interval comes from the site catalog
      (L1Pipeline.condition(
        Conditioned(fluxP.data.observe(inFlux, count(lit(1)).as("n")),
          bounded(fluxP.meta, Map("Ta_K" -> (-40.0, 60.0), "Fc" -> (-100.0, 100.0)))),
        "DATETIME", Step, Map("Ta_K" -> "Ta", "Fc" -> "Fc", "n_samp" -> "n_samp")),
       L1Pipeline.condition(
        Conditioned(metP.data.observe(inMet, count(lit(1)).as("n")),
          bounded(metP.meta, Map("RH_frac" -> (0.0, 100.0)))),
        "DATETIME", Step, Map("RH_frac" -> "RH", "Sws" -> "Sws", "Vbat" -> "Vbat")))
    }
    val l1 = t.span("pipeline.merge_convert_mask") {
      val merged = L1Pipeline.mergeOnTime(Seq(cf, cm), "DATETIME")
      val converted = L1Pipeline.convertUnits(merged, Map(
        "Ta" -> (((c: Column) => Conversions.kelvinToCelsius(c)), "degC"),
        "RH" -> (((c: Column) => Conversions.fracToPercent(c)), "%")))
      val masked = L1Pipeline.maskPlausible(converted)
      masked.copy(df = masked.df.observe(outObs, count(lit(1)).as("rows"),
        count(col("n_samp")).as("flux"), count(col("Vbat")).as("met"),
        count(col("Ta")).as("Ta"), count(col("Fc")).as("Fc"),
        count(col("RH")).as("RH")))
    }
    t.span("pipeline.write_lake") {
      L1Pipeline.writeLake(l1, "DATETIME", Step,
        lakeRoot.resolve(site).toString, site)
    }
    def n(o: Observation, k: String): Long = o.get(k).asInstanceOf[Long]
    val rows = n(outObs, "rows")
    // rows in (after the D4 timestamp drop) − duplicates dropped = rows out
    Check.equal(s"$site flux rows in", n(inFlux, "n"),
      (st.flux.rawLines - st.flux.badTsLines).toLong)
    Check.equal(s"$site met rows in", n(inMet, "n"),
      (st.met.rawLines - st.met.badTsLines).toLong)
    Check.equal(s"$site flux rows out", n(outObs, "flux"),
      n(inFlux, "n") - st.flux.dupLines)
    Check.equal(s"$site met rows out", n(outObs, "met"),
      n(inMet, "n") - st.met.dupLines)
    Check.equal(s"$site lake rows", rows, st.gridLen.toLong)
    Check.equal(s"$site Ta masked", rows - n(outObs, "Ta"),
      (st.gridLen - st.flux.validTicks + st.implausibleTa).toLong)
    Check.equal(s"$site Fc masked", rows - n(outObs, "Fc"),
      (st.gridLen - st.flux.validTicks + st.implausibleFc + st.nanFc).toLong)
    Check.equal(s"$site RH masked", rows - n(outObs, "RH"),
      (st.gridLen - st.met.validTicks + st.implausibleRh).toLong)
  }

  private def statusTask(spark: SparkSession, t: Tracer, sites: Seq[String],
      lakeRoot: Path, statusDir: Path): String = {
    val lake = sites.map(s => L1Pipeline.readLake(spark,
        lakeRoot.resolve(s).toString).withColumn("site", lit(s)))
      .reduce(_ unionByName _)
    val missing = t.span("operators.missing_stats") {
      TimeSeriesOps.missingStats(lake, "DATETIME", Step, Seq("site")).collect()
    }
    val now = new java.sql.Timestamp(Now * 1000L)
    val status = t.span("operators.variable_status") {
      TimeSeriesOps.variableStatus(lake, "DATETIME", "Fc", now, Seq("site"))
        .collect()
    }
    val geo = statusDir.resolve("network_status.geojson")
    val details = statusDir.resolve("site_details.json")
    t.span("pipeline.status_write") {
      val schema = StructType(Seq(StructField("site", StringType),
        StructField("latitude", DoubleType), StructField("longitude", DoubleType),
        StructField("last_ts", StringType), StructField("days_since_last", DoubleType),
        StructField("last_valid_ts", StringType),
        StructField("days_since_last_valid", DoubleType)))
      val rows = status.sortBy(_.getAs[String]("site")).map { r =>
        val s = truth(r.getAs[String]("site"))
        val lastValid = r.getAs[java.sql.Timestamp]("last_valid_ts")
        Row(s.site, s.lat, s.lon, r.getAs[java.sql.Timestamp]("last_ts").toString,
          r.getAs[Double]("days_since_last"), lastValid.toString,
          (Now * 1000L - lastValid.getTime) / 1000.0 / DaySec)
      }
      val df = spark.createDataFrame(rows.toSeq.asJava, schema)
        .withColumn("status", Status.stalenessBucket(col("days_since_last_valid")))
      Status.writeGeojson(df, geo.toString, "site", "latitude", "longitude")
      Status.writeJsonArray(df, details.toString)
    }
    // checks: lake rows equal the regular grid, one feature per site,
    // staleness equal to the ground truth
    Check.equal("missing_stats sites", missing.length, sites.size)
    missing.foreach { r =>
      val s = truth(r.getAs[String]("site"))
      Check.equal(s"${s.site} lake rows present", r.getAs[Long]("n_present"), s.gridLen.toLong)
      Check.equal(s"${s.site} lake rows expected", r.getAs[Long]("n_expected"), s.gridLen.toLong)
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    val features = mapper.readTree(geo.toFile).get("features")
    Check.equal("geojson features", features.size, sites.size)
    features.elements().asScala.foreach { f =>
      val p = f.get("properties")
      val s = truth(p.get("site").asText)
      def near(what: String, got: Double, want: Double) =
        Check(math.abs(got - want) < 1e-9, s"${s.site} $what: got $got, want $want")
      near("days_since_last", p.get("days_since_last").asDouble,
        (Now - s.lastTs) / DaySec)
      near("days_since_last_valid", p.get("days_since_last_valid").asDouble,
        (Now - s.lastValidFc) / DaySec)
    }
    Check.equal("site_details rows", mapper.readTree(details.toFile).size, sites.size)
    val md5 = java.security.MessageDigest.getInstance("MD5")
    md5.update(Files.readAllBytes(geo)); md5.update(Files.readAllBytes(details))
    md5.digest().map(b => f"$b%02x").mkString
  }

  def rep(spark: SparkSession, t: Tracer, in: Path, out: Path,
      ops: Ops): String = {
    val matrix = TaskRegistry.fromCsv(new String(
      Files.readAllBytes(in.resolve("tasks.csv")), StandardCharsets.UTF_8))
    val lakeRoot = out.resolve("lake")
    val l1 = TaskRegistry.runTask(matrix, "l1", Map("l1" -> ((site: String) =>
      t.span(Layers.SiteTask, "site")(siteTask(spark, t, in, lakeRoot, site)))))
    var fastDigest = ""
    val fast = TaskRegistry.runTask(matrix, "fast", Map("fast" -> ((site: String) =>
      t.span(Layers.SiteTask) {
        fastDigest = FastDataBulk.task(spark, t, fastDir(in, site),
          out.resolve("fast").resolve(site))
      })))
    var digest = ""
    val status = TaskRegistry.runTask(matrix, "status", Map.empty,
      Map("status" -> (() => t.span(Layers.SiteTask) {
        digest = statusTask(spark, t, matrix.sitesForTask("l1"), lakeRoot,
          out.resolve("status"))
      })))
    (l1 ++ fast ++ status).foreach { o =>
      ops.attempted += 1
      if (!o.ok) ops.fail(s"${o.task}/${o.site.getOrElse("network")}",
        o.error.getOrElse("failed"))
    }
    s"$digest-$fastDigest"
  }
}
