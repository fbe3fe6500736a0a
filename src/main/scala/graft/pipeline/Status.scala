package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** E3 network-status products (reference:
  * code/network_monitoring/network_status.py): per-site/per-variable
  * staleness stats rendered to geojson (K7) and JSON (K8). The stats
  * are the A9 aggregates (TimeSeriesOps.variableStatus); these sinks
  * collect the tiny result set driver-side and render text.
  */
object Status {

  /** F32: staleness days -> reporting bucket (reference colour
    * categories, network_status.py:815-851). */
  def stalenessBucket(days: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    when(days < 1, "ok")
      .when(days < 3, "warning_1_3")
      .when(days < 5, "warning_3_5")
      .when(days < 7, "warning_5_7")
      .otherwise("stale_7_plus")

  /** Logger clock-drift status (reference: network_status.py:273-310
    * `check_sites_online`): each row carries a site's self-reported
    * clock time (naive site-local standard time) and the site's UTC
    * offset; drift is the reported clock vs the reference instant
    * after removing the expected offset. `online` is false for null
    * reported times (no response). The HTTP pull that produces
    * `reported_ts` is out of engine scope (zero-egress); this is the
    * collation analytic over its results. */
  def clockStatus(df: DataFrame, refTimeUtc: java.sql.Timestamp,
      tsCol: String = "reported_ts",
      offsetHoursCol: String = "utc_offset_hours",
      driftToleranceSec: Long = 300L): DataFrame = {
    val refUs = refTimeUtc.getTime * 1000L
    val reportedUtcUs = unix_micros(col(tsCol)) -
      (col(offsetHoursCol) * 3600000000L).cast("long")
    df.withColumn("online", col(tsCol).isNotNull)
      .withColumn("drift_seconds",
        when(col(tsCol).isNotNull,
          (lit(refUs) - reportedUtcUs).cast("double") / 1000000.0))
      .withColumn("clock_ok",
        when(col(tsCol).isNotNull,
          abs(col("drift_seconds")) <= driftToleranceSec.toDouble))
  }

  /** K6 xlsx staleness palette (reference `_get_colour`,
    * network_status.py:815-851): <1 green, <3 blue, <5 magenta,
    * <7 orange, else red. Index is 1-based into [[StatusFills]]
    * (0 = unstyled, for null staleness). */
  val StatusFills: Seq[String] = Seq(
    "FF008000", "FF0000FF", "FFFF00FF", "FFFFA500", "FFFF0000")

  private[pipeline] def fillFor(days: Any): Int = days match {
    case null => 0
    case n: Number =>
      val d = n.doubleValue
      if (d.isNaN) 0
      else if (d < 1) 1 else if (d < 3) 2 else if (d < 5) 3
      else if (d < 7) 4 else 5
    case _ => 5 // non-numeric staleness = red, like the reference
  }

  /** K6: the network-status workbook (network_status.py:634-884):
    * a file-status sheet, one data-status sheet per site, and the
    * colour Key sheet. Every sheet leads with a `RUN date/time:` line
    * then the header row; the staleness column is colour-filled per
    * [[fillFor]]; column widths fit max(header, content) + 2.
    * Status frames are tiny (sites × variables) — collected and
    * rendered driver-side like the geojson/JSON sinks. */
  def writeStatusWorkbook(path: String, fileStatus: DataFrame,
      siteDataStatus: Seq[(String, DataFrame)],
      runTime: java.sql.Timestamp,
      fileDaysCol: String = "days_since_last_record",
      dataDaysCol: String = "days_since_last_valid_record"): Unit = {
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm")
    val runLine =
      s"RUN date/time: ${runTime.toLocalDateTime.format(fmt)} "

    def statusSheet(name: String, df: DataFrame, daysCol: String)
        : Xlsx.Sheet = {
      val cols = df.columns.toSeq
      val daysIdx = cols.indexOf(daysCol)
      val rows = df.collect().toSeq
      val header = cols.map(c => Xlsx.Cell(c))
      val body = rows.map { r =>
        cols.indices.map { i =>
          val v = r.get(i)
          Xlsx.Cell(v, if (i == daysIdx) fillFor(v) else 0)
        }
      }
      val widths = cols.indices.map { i =>
        val content = rows.map(r => String.valueOf(r.get(i)).length)
        math.max(cols(i).length, if (content.isEmpty) 0 else content.max) + 2
      }
      Xlsx.Sheet(name,
        Seq(Seq(Xlsx.Cell(runLine))) ++ (header +: body), widths)
    }

    val keySheet = {
      val entries = Seq(
        ("green", "< 1 day", 1), ("blue", "1 <= day(s) < 3", 2),
        ("magenta", "3 <= days < 5", 3), ("orange", "5 <= days < 7", 4),
        ("red", "days >= 7", 5))
      Xlsx.Sheet("Key",
        Seq(Xlsx.Cell("colour"), Xlsx.Cell("interval")) +:
          entries.map { case (c, l, f) =>
            Seq(Xlsx.Cell(c, f), Xlsx.Cell(l)) },
        Seq(9, 17))
    }

    val sheets =
      statusSheet("File_status", fileStatus, fileDaysCol) +:
      siteDataStatus.map { case (site, df) =>
        statusSheet(site, df, dataDaysCol) } :+
      keySheet
    Xlsx.write(path, sheets, StatusFills)
  }

  /** JSON string-body escape: quote, backslash and every control
    * character, so any text renders as a valid JSON string. */
  private[pipeline] def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** K7: geojson FeatureCollection — one Point feature per site row.
    * `df` must have siteCol/latCol/lonCol; all other columns become
    * feature properties. */
  def writeGeojson(df: DataFrame, path: String, siteCol: String,
      latCol: String, lonCol: String): Unit = {
    val cols = df.columns.toSeq
    val propCols = cols.filterNot(Seq(latCol, lonCol).contains)
    val features = df.collect().map { r =>
      val props = propCols.map { c =>
        val v = r.get(cols.indexOf(c))
        val rendered = v match {
          case null => "null"
          case n: Number => n.toString
          case b: Boolean => b.toString
          case other => "\"" + esc(other.toString) + "\""
        }
        "\"" + esc(c) + "\": " + rendered
      }.mkString(", ")
      val lon = r.get(cols.indexOf(lonCol))
      val lat = r.get(cols.indexOf(latCol))
      s"""{"type": "Feature", "geometry": {"type": "Point", "coordinates": [$lon, $lat]}, "properties": {$props}}"""
    }
    val json =
      s"""{"type": "FeatureCollection", "features": [${features.mkString(", ")}]}"""
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(path).getParent)
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** K8: site-details JSON array — each row rendered as an object. */
  def writeJsonArray(df: DataFrame, path: String): Unit = {
    val cols = df.columns.toSeq
    val rows = df.collect().map { r =>
      cols.zipWithIndex.map { case (c, i) =>
        val v = r.get(i)
        val rendered = v match {
          case null => "null"
          case n: Number => n.toString
          case b: Boolean => b.toString
          case other => "\"" + esc(other.toString) + "\""
        }
        "\"" + esc(c) + "\": " + rendered
      }.mkString("{", ", ", "}")
    }
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(path).getParent)
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      rows.mkString("[", ", ", "]")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
