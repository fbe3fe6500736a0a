package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.TableMeta
import graft.operators.{JoinOps, TimeSeriesOps}

/** L1 product construction — the reference's flagship pipeline (E1,
  * SURVEY.md §3): per-file scan+condition, horizontal merge on the
  * time axis, unit conversions, QC flags, year-partitioned lake write.
  *
  * The (DataFrame, TableMeta) pair is one immutable value transformed
  * together (SURVEY §7.4 #9): every rename/derive updates both.
  */
object L1Pipeline {

  final case class Conditioned(df: DataFrame, meta: TableMeta)

  /** Condition one source frame (reference DataHandler
    * get_conditioned_data, file_handler.py:21-125): subset+rename
    * (P1), exact dedup (D1), drop dup-timestamp rows (D2, keep-first
    * policy), regularize to the site interval (A1). An `intervalSec`
    * <= 0 means "infer": the interval is taken from the data via
    * [[TimeSeriesOps.requireUniformInterval]], which enforces the
    * reference's min==mode policy (file_io.py:1079-1087) and throws
    * when sub-interval rows survive the dedup. */
  def condition(c: Conditioned, tsCol: String, intervalSec: Long,
      usecols: Map[String, String]): Conditioned = {
    val selected = c.df.select(
      col(tsCol) +: usecols.toSeq.sortBy(_._1).map {
        case (from, to) => col(from).as(to) }: _*)
    val deduped = selected.dropDuplicates()
      .dropDuplicates(tsCol)    // D2 keep-one policy
    val step =
      if (intervalSec > 0) intervalSec
      else TimeSeriesOps.requireUniformInterval(deduped, tsCol)
    val regular = TimeSeriesOps.regularize(deduped, tsCol, step)
    Conditioned(regular,
      c.meta.subset(usecols.keys.toSeq).withRenames(usecols))
  }

  /** J3 horizontal merge: fold of full-outer shuffled hash joins on the
    * timestamp ([[JoinOps.mergeOnTime]]). */
  def mergeOnTime(frames: Seq[Conditioned], tsCol: String): Conditioned = {
    val df = JoinOps.mergeOnTime(frames.map(_.df), Seq(tsCol))
    val meta = frames.head.meta.copy(
      variables = frames.flatMap(_.meta.variables)
        .groupBy(_.name).map(_._2.head).toSeq.sortBy(_.name))
    Conditioned(df, meta)
  }

  /** Apply unit conversions by name-keyed dispatch (F12): each entry
    * maps a column to a converted expression + new units string. */
  def convertUnits(c: Conditioned,
      conversions: Map[String, (Column => Column, String)]): Conditioned = {
    val df = conversions.foldLeft(c.df) { case (d, (name, (f, _))) =>
      if (d.columns.contains(name)) d.withColumn(name, f(col(name))) else d
    }
    val meta = c.meta.copy(variables = c.meta.variables.map { v =>
      conversions.get(v.name).fold(v) { case (_, u) => v.copy(units = u) }
    })
    Conditioned(df, meta)
  }

  /** P5 range-mask every variable with plausible bounds in the catalog
    * (masking, never filtering — grid density is preserved). */
  def maskPlausible(c: Conditioned): Conditioned = {
    val df = c.meta.variables.foldLeft(c.df) { (d, v) =>
      (v.plausibleMin, v.plausibleMax) match {
        case (Some(lo), Some(hi)) if d.columns.contains(v.name) =>
          d.withColumn(v.name, TimeSeriesOps.maskRange(col(v.name), lo, hi))
        case _ => d
      }
    }
    c.copy(df = df)
  }

  /** K5 QC flags: for every data variable add `<var>_QCFlag` =
    * 1 where null else 0 (reference: nc_constructors.py:701-719). */
  def withQcFlags(df: DataFrame, tsCol: String): DataFrame =
    df.columns.filter(_ != tsCol).foldLeft(df) { (d, c) =>
      d.withColumn(s"${c}_QCFlag",
        when(col(c).isNull, 1).otherwise(0).cast("int"))
    }

  /** End-of-interval year labeling (SURVEY §7.4 #4): a timestamp
    * labeling the END of its averaging interval belongs to the year of
    * `ts - interval` + 1-tick convention: year boundaries are
    * (Jan-1 + step, next Jan-1] (reference: nc_constructors.py:498-517).
    */
  def labelYear(ts: Column, intervalSec: Long): Column =
    year(timestamp_micros(unix_micros(ts) - intervalSec * 1000000L))

  /** K4: year-partitioned parquet lake write + JSON attrs sidecar with
    * the same information content as the netCDF global attributes
    * (title/time coverage/interval). Partition column `year` enables
    * partition pruning for the yearly readers (J4 becomes a plain
    * partitioned read).
    *
    * One Spark action: the time coverage and the row count ride an
    * [[Observation]] on the written frame, so `attrs.json` is filled
    * by the parquet write itself rather than by a second pass over the
    * conditioned input. A frame with no rows (e.g. every timestamp
    * unparseable) has no coverage and is refused with an
    * `IllegalArgumentException` naming the site. */
  def writeLake(c: Conditioned, tsCol: String, intervalSec: Long,
      outDir: String, site: String): Unit = {
    val coverage = Observation()
    val withYear = withQcFlags(c.df, tsCol)
      .withColumn("year", labelYear(col(tsCol), intervalSec))
      .observe(coverage, count(lit(1)).as("rows"),
        min(col(tsCol)).cast("string").as("start"),
        max(col(tsCol)).cast("string").as("end"))
    withYear.write.mode("overwrite").partitionBy("year")
      .parquet(s"$outDir/data")

    val span = coverage.get
    if (span("rows").asInstanceOf[Long] == 0L)
      throw new IllegalArgumentException(s"writeLake: no rows for site $site")
    val attrs = Map(
      "site" -> site,
      "time_coverage_start" -> span("start").toString,
      "time_coverage_end" -> span("end").toString,
      "interval_seconds" -> intervalSec.toString,
      "variables" -> c.meta.variables.map(v =>
        s"${v.name}:${v.units}:${v.sampling}").mkString(";"))
    val json = attrs.map { case (k, v) =>
      "\"" + k + "\": \"" + Status.esc(v) + "\""
    }.mkString("{", ", ", "}")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$outDir/attrs.json"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** K4 real-netCDF product (the reference's flagship output,
    * nc_constructors.py:433-530): one classic-format `.nc` per year
    * from the lake — dims (time=unlimited, latitude=1, longitude=1),
    * CF time encoded as seconds since 1800-01-01, a NaN-valued `crs`
    * variable carrying the coordinate reference attrs, per-variable
    * attrs, int QC-flag variables, and recomputed global attrs
    * (title / nc_nrecs / time coverage, nc_constructors.py:557-719).
    *
    * A site-year is a bounded artifact (~17.5k rows at 30 min), so
    * the assembly is a driver-side collect by design — the same
    * contract as the TOA5 writer; the yearly partition scan feeding
    * it stays distributed. */
  def writeNetCdfYear(spark: SparkSession, lakeDir: String, year: Int,
      site: String, latitude: Double, longitude: Double,
      intervalSec: Long, outPath: String, tsCol: String = "DATETIME",
      varAttrs: Map[String, Seq[(String, graft.sources.NetCdf.AttrVal)]] =
        Map.empty): Unit = {
    import graft.sources.NetCdf
    import graft.sources.NetCdf._
    val df = spark.read.parquet(s"$lakeDir/data")
      .filter(col("year") === year).drop("year")
      .orderBy(col(tsCol))
    val cols = df.columns.filter(_ != tsCol).toSeq
    val rows = df.limit(2000001).collect()
    require(rows.length <= 2000000,
      s"year $year exceeds 2M rows — not a site-year product")
    val n = rows.length
    require(n > 0, s"no lake rows for year $year")

    val time = rows.map { r =>
      val t = r.getTimestamp(r.fieldIndex(tsCol))
      (t.getTime / 1000.0) - NetCdf.Epoch1800Sec.toDouble
    }
    def series(name: String): Array[Double] = rows.map { r =>
      val i = r.fieldIndex(name)
      if (r.isNullAt(i)) Double.NaN
      else r.get(i) match {
        case d: java.lang.Double => d.doubleValue
        case x: java.lang.Number => x.doubleValue
      }
    }
    val dims = Seq(Dim("time", 0), Dim("latitude", 1), Dim("longitude", 1))
    val allDims = Seq(0, 1, 2)
    val tcFmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss")
    def tsStr(i: Int): String =
      rows(i).getTimestamp(rows(i).fieldIndex(tsCol))
        .toLocalDateTime.format(tcFmt)
    val globals = Seq(
      "title" -> TextAttr(
        s"Flux tower data set from the $site site for the calendar year $year"),
      "site" -> TextAttr(site),
      "nc_nrecs" -> IntAttr(Seq(n)),
      "time_coverage_start" -> TextAttr(tsStr(0)),
      "time_coverage_end" -> TextAttr(tsStr(n - 1)),
      "time_step" -> IntAttr(Seq((intervalSec / 60).toInt)),
      "latitude" -> DoubleAttr(Seq(latitude)),
      "longitude" -> DoubleAttr(Seq(longitude)))
    val crsAttrs = Seq(
      "grid_mapping_name" -> TextAttr("latitude_longitude"),
      "long_name" -> TextAttr("WGS 1984 datum"),
      "longitude_of_prime_meridian" -> DoubleAttr(Seq(0.0)),
      "semi_major_axis" -> DoubleAttr(Seq(6378137.0)),
      "inverse_flattening" -> DoubleAttr(Seq(298.257223563)))
    val vars =
      Var("time", Seq(0), NcDouble, Seq(
        "long_name" -> TextAttr("time"),
        "standard_name" -> TextAttr("time"),
        "units" -> TextAttr("seconds since 1800-01-01 00:00:00.0")),
        time) +:
      Var("latitude", Seq(1), NcDouble, Seq(
        "long_name" -> TextAttr("latitude"),
        "standard_name" -> TextAttr("latitude"),
        "units" -> TextAttr("degrees north")), Array(latitude)) +:
      Var("longitude", Seq(2), NcDouble, Seq(
        "long_name" -> TextAttr("longitude"),
        "standard_name" -> TextAttr("longitude"),
        "units" -> TextAttr("degrees east")), Array(longitude)) +:
      Var("crs", allDims, NcDouble, crsAttrs,
        Array.fill(n)(Double.NaN)) +:
      cols.map { c =>
        val t = if (c.endsWith("_QCFlag")) NcInt else NcDouble
        val attrs = varAttrs.getOrElse(c,
          if (c.endsWith("_QCFlag"))
            Seq("long_name" -> TextAttr(
              s"${c.stripSuffix("_QCFlag")}QC flag"),
              "units" -> TextAttr("1"))
          else Nil)
        Var(c, allDims, t, attrs, series(c))
      }
    NetCdf.write(outPath, Dataset(dims, globals, vars))
  }

  /** S11/J4: a yearly product file, or a directory of them, back to
    * a frame (DATETIME + data/flag columns; NaN -> null) through the
    * logger-file scan seam ([[graft.sources.v2.NetCdfDataSource]]). */
  def readNetCdf(spark: SparkSession, path: String): DataFrame =
    spark.read.format("netcdf").load(path)

  /** J4 multi-year read-back: partitioned parquet scan (year pruning
    * is free); QC flag columns dropped for analysis reads. */
  def readLake(spark: SparkSession, outDir: String,
      years: Seq[Int] = Nil): DataFrame = {
    val df = spark.read.parquet(s"$outDir/data")
    val pruned = if (years.nonEmpty) df.filter(col("year").isin(years: _*))
      else df
    pruned.drop(pruned.columns.filter(_.endsWith("_QCFlag")).toIndexedSeq: _*)
  }
}
