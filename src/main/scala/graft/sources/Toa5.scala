package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{FileFormat, FileInfo, TableMeta, VariableMeta}
import graft.sources.v2.Toa5V2

/** TOA5 / EddyPro codec.
  *
  * Read contract (reference: code/file_handling/file_io.py:61-262):
  * a small header block (info line, variable names, units, sampling)
  * followed by CSV/TSV rows; NA token `NAN`/`NaN`; non-numeric columns
  * declared by format, everything else coerced to double (bad -> null);
  * a DATETIME timestamp built from the file's time columns; bad rows
  * dropped; sort by time.
  *
  * Spark-first design: the header block is probed driver-side (a few
  * hundred bytes, no job), producing a `StructType` + [[TableMeta]];
  * the body scans distributedly through the logger-file scan seam
  * (`format("toa5")`, [[graft.sources.v2.LoggerSource]]), one task per
  * file, each task checking its file's header against the scan schema
  * (reference D7: code/utils/fast_file_io.py:294-341).
  */
object Toa5 {

  /** Driver-side header probe (S3/S4/S5): first `headerLines` lines. */
  def probeHeader(path: String): (FileFormat, Seq[String]) = {
    val it = Files.lines(Paths.get(path), StandardCharsets.UTF_8)
    try {
      val head = it.iterator().asScala.take(8).toVector
      val fmt = FileFormat.detect(head.head).getOrElse(
        throw new IllegalArgumentException(
          s"unrecognized format in $path: ${head.head.take(60)}"))
      (fmt, head.take(fmt.headerLines))
    } finally it.close()
  }

  private def splitLine(line: String, fmt: FileFormat): Seq[String] = {
    val cells = new Toa5V2.Cells(fmt.separator.head)
    cells.split(line)
    (0 until cells.count).map(cells(_))
  }

  /** Build TableMeta from probed header lines. */
  def parseHeader(fmt: FileFormat, header: Seq[String]): TableMeta = {
    val names = splitLine(header(fmt.namesLine), fmt)
    val units = fmt.unitsLine.map(i => splitLine(header(i), fmt))
      .getOrElse(names.map(_ => ""))
    val sampling = fmt.samplingLine.map(i => splitLine(header(i), fmt))
      .getOrElse(names.map(_ => ""))
    val info = fmt.infoLine.map { i =>
      val f = splitLine(header(i), fmt).padTo(8, "")
      FileInfo(f(0), f(1), f(2), f(3), f(4), f(5), f(6), f(7))
    }.getOrElse(FileInfo.dummy)
    val vars = names.zipWithIndex.map { case (n, i) =>
      VariableMeta(n, units.lift(i).getOrElse(""),
        sampling.lift(i).getOrElse(""))
    }
    TableMeta(info, vars)
  }

  /** Schema: declared non-numeric columns are strings, all else double
    * (D3: the scan reads non-numeric garbage in a double column as
    * null). */
  def schemaFor(fmt: FileFormat, meta: TableMeta): StructType =
    StructType(meta.variableNames.map { n =>
      if (fmt.nonNumericCols.contains(n)) StructField(n, StringType)
      else StructField(n, DoubleType)
    })

  /** Reads a file, a directory or a glob leaf (a pattern such as
    * `*.dat` as the last path element) of header-identical files
    * through the logger-file scan seam
    * ([[graft.sources.v2.Toa5DataSource]]), with the first file's
    * header as the [[TableMeta]]. Building the frame runs no Spark job.
    *
    * Produces the conditioned frame: DATETIME built (F27), unparseable
    * timestamps dropped (D4), value columns coerced (D3), every file's
    * header checked against the first (D7). Dedup/regularize are
    * separate operators (TimeSeriesOps) — same separation as the
    * reference's FileHandler vs file_io.
    */
  def read(spark: SparkSession, path: String): Parsed =
    Parsed(spark.read.format("toa5").load(path), Toa5V2.probe(path)._2)

  /** K1/K2 writer: byte-stable single-file TOA5 output — header block
    * then body rows, QUOTE_NONNUMERIC quoting, NA token, timestamp as
    * leading `TIMESTAMP` string column in the session time zone
    * (reference: code/file_handling/file_io.py:326-418,668-717).
    *
    * The single-file, byte-ordered contract forces a driver-side write
    * (reference products are <= ~1e5 rows); the D6 header/data
    * consistency check runs first. Large frames belong in parquet via
    * the lake writer, not here.
    */
  def write(df: DataFrame, meta: TableMeta, path: String,
      tsCol: String = "DATETIME"): Unit = {
    val dataCols = df.columns.filter(_ != tsCol).toSeq
    val headerVars = meta.variableNames.filter(_ != "TIMESTAMP")
    require(dataCols == headerVars,
      s"header/data mismatch: data-only=${dataCols.diff(headerVars)} " +
      s"header-only=${headerVars.diff(dataCols)}")

    val sorted = df.orderBy(col(tsCol))
      .select((col(tsCol) +: dataCols.map(col)): _*)
    val enc = lineEncoder(sorted)
    val sb = new java.lang.StringBuilder(headerText(meta))
    collectBounded(sorted, path).foreach(enc.appendTo(_, sb))
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path),
      sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  private def quoteCell(s: String) = "\"" + s + "\""

  /** The 4-line TOA5 header block (info, names, units, sampling), each
    * line CRLF-terminated — shared by the driver-side [[write]] and the
    * distributed [[graft.pipeline.FastData.writeShards]] so the two
    * paths are byte-identical by construction. */
  private[graft] def headerText(meta: TableMeta): String = {
    val headerVars = meta.variableNames.filter(_ != "TIMESTAMP")
    val i = meta.info
    val infoLine = Seq(i.format, i.stationName, i.loggerType, i.serialNum,
      i.osVersion, i.programName, i.programSig, i.tableName)
      .map(quoteCell).mkString(",")
    val byName = meta.variables.map(v => v.name -> v).toMap
    val namesLine = ("TIMESTAMP" +: headerVars).map(quoteCell).mkString(",")
    val unitsLine = ("TS" +: headerVars.map(n =>
      byName.get(n).map(_.units).getOrElse(""))).map(quoteCell).mkString(",")
    val samplingLine = ("" +: headerVars.map(n =>
      byName.get(n).map(_.sampling).getOrElse(""))).map(quoteCell).mkString(",")
    Seq(infoLine, namesLine, unitsLine, samplingLine)
      .mkString("", "\r\n", "\r\n")
  }

  /** The body-line encoder for `rows`, whose first column is the
    * timestamp and the rest the data cells in header order; the time
    * zone is the session's. */
  private[graft] def lineEncoder(rows: DataFrame): LineEncoder =
    new LineEncoder(rows.schema.fields.tail.map(_.dataType),
      rows.sparkSession.conf.get("spark.sql.session.timeZone"))

  /** The TOA5 body-line encoder over Catalyst rows, shared by [[write]]
    * and [[graft.pipeline.FastData.writeShards]] so the two writers are
    * byte-identical by construction. A line is the quoted timestamp
    * (`yyyy-MM-dd HH:mm:ss` of epoch micros in `timeZone`) then the
    * data cells, QUOTE_NONNUMERIC: strings quoted, numbers bare as
    * `Double.toString`/`Float.toString` print them (`1.0` stays
    * `1.0`), a NaN double and every null as the NA token `NAN`;
    * CRLF-terminated.
    *
    * Per row it allocates nothing for the common cell types: each
    * cell is read with its typed getter into one reused builder, and
    * the timestamp is formatted once per minute, then completed with
    * its two second digits. One instance per thread. */
  private[graft] final class LineEncoder(dataTypes: Array[DataType],
      timeZone: String) extends Serializable {
    private val kinds: Array[Int] = dataTypes.map {
      case StringType => 0
      case DoubleType => 1
      case FloatType => 2
      case LongType => 3
      case IntegerType => 4
      case BooleanType => 5
      case _ => 6
    }
    private val toScala: Array[Any => Any] = dataTypes.zip(kinds).map {
      case (t, 6) =>
        org.apache.spark.sql.catalyst.CatalystTypeConverters.createToScalaConverter(t)
      case _ => null
    }
    @transient private lazy val zone = java.time.ZoneId.of(timeZone)
    @transient private lazy val line = new java.lang.StringBuilder(256)
    @transient private var chars: Array[Char] = _
    @transient private var bytes: Array[Byte] = _
    // the current second's local minute, as `"yyyy-MM-dd HH:mm:`, and
    // its two second-of-minute digits
    @transient private var second = Long.MinValue
    @transient private var minute = Long.MinValue
    @transient private var prefix: String = _
    @transient private var ss: Int = 0
    // the zone's offset if it never changes (UTC), else null
    @transient private lazy val fixed: java.time.ZoneOffset =
      if (zone.getRules.isFixedOffset)
        zone.getRules.getOffset(java.time.Instant.EPOCH)
      else null

    /** Wall-clock time of epoch `micros` in the encoder's time zone. */
    def localTime(micros: Long): java.time.LocalDateTime =
      java.time.LocalDateTime.ofInstant(java.time.Instant.ofEpochSecond(
        Math.floorDiv(micros, 1000000L)), zone)

    /** Appends the TOA5 line of `row` to `sb`. */
    def appendTo(row: InternalRow, sb: java.lang.StringBuilder): Unit = {
      val sec = Math.floorDiv(row.getLong(0), 1000000L)
      if (prefix == null || sec != second) {
        second = sec
        val offset = if (fixed != null) fixed else
          zone.getRules.getOffset(java.time.Instant.ofEpochSecond(sec))
        val local = sec + offset.getTotalSeconds    // wall clock, as epoch
        val m = Math.floorDiv(local, 60L)
        if (prefix == null || m != minute) {
          minute = m
          prefix = "\"" + java.time.LocalDateTime.ofEpochSecond(m * 60L, 0,
            java.time.ZoneOffset.UTC).format(MinuteFmt)
        }
        ss = (local - m * 60L).toInt
      }
      sb.append(prefix).append((ss / 10 + '0').toChar)
        .append((ss % 10 + '0').toChar).append('"')
      appendCells(row, sb, ',', NaToken, quoteStrings = true)
      sb.append("\r\n")
    }

    /** Appends `sep` then each data cell of `row`: `na` for a null,
      * `NAN` for a NaN double. */
    def appendCells(row: InternalRow, sb: java.lang.StringBuilder,
        sep: Char, na: String, quoteStrings: Boolean): Unit = {
      var i = 0
      while (i < kinds.length) {
        val o = i + 1
        sb.append(sep)
        if (row.isNullAt(o)) sb.append(na)
        else kinds(i) match {
          case 0 =>
            if (quoteStrings) sb.append('"').append(row.getUTF8String(o)).append('"')
            else sb.append(row.getUTF8String(o))
          case 1 =>
            val d = row.getDouble(o)
            if (d.isNaN) sb.append(NaToken) else sb.append(d)
          case 2 => sb.append(row.getFloat(o))
          case 3 => sb.append(row.getLong(o))
          case 4 => sb.append(row.getInt(o))
          case 5 => sb.append(row.getBoolean(o))
          case _ => sb.append(toScala(i)(row.get(o, dataTypes(i))))
        }
        i += 1
      }
    }

    /** Writes the UTF-8 line of `row` to `out`, through reused buffers
      * when the line is ASCII. */
    def writeTo(row: InternalRow, out: java.io.OutputStream): Unit = {
      val sb = line
      sb.setLength(0)
      appendTo(row, sb)
      val n = sb.length
      if (chars == null || chars.length < n) {
        chars = new Array[Char](n); bytes = new Array[Byte](n)
      }
      val cs = chars
      val bs = bytes
      sb.getChars(0, n, cs, 0)
      var ascii = true
      var i = 0
      while (i < n) {
        val c = cs(i)
        if (c >= 0x80) ascii = false
        bs(i) = c.toByte
        i += 1
      }
      if (ascii) out.write(bs, 0, n)
      else out.write(sb.toString.getBytes(StandardCharsets.UTF_8))
    }
  }

  private val NaToken = FileFormat.Toa5.naToken

  // `yyyy-MM-dd HH:mm:ss` up to the seconds; immutable + thread-safe
  private val MinuteFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:")

  /** K3: EddyPro summary writer — tab-separated, 2 header lines
    * (names with leading DATAH/filename/date/time; units line led by
    * DATAU with bracketed date/time formats), NA token `NaN`, rows
    * prefixed DATA + filename + split date/time columns (reference:
    * code/file_handling/file_io.py:721-841). */
  def writeEddyPro(df: DataFrame, meta: TableMeta, path: String,
      filename: String, tsCol: String = "DATETIME"): Unit = {
    val dataCols = df.columns.filter(_ != tsCol).toSeq
    val byName = meta.variables.map(v => v.name -> v).toMap
    val namesLine = (Seq("DATAH", "filename", "date", "time") ++ dataCols)
      .mkString("\t")
    val unitsLine = (Seq("DATAU", "", "[yyyy-mm-dd]", "[HH:MM]") ++
      dataCols.map(n => byName.get(n).map(_.units).getOrElse("")))
      .mkString("\t")
    val sorted = df.orderBy(col(tsCol))
      .select((col(tsCol) +: dataCols.map(col)): _*)
    val enc = lineEncoder(sorted)
    val dFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd")
    val tFmt = java.time.format.DateTimeFormatter.ofPattern("HH:mm")
    val sb = new java.lang.StringBuilder
    sb.append(namesLine).append("\r\n").append(unitsLine).append("\r\n")
    collectBounded(sorted, path).foreach { r =>
      val ldt = enc.localTime(r.getLong(0))
      sb.append("DATA\t").append(filename).append('\t')
        .append(ldt.format(dFmt)).append('\t').append(ldt.format(tFmt))
      enc.appendCells(r, sb, '\t', "NaN", quoteStrings = false)
      sb.append("\r\n")
    }
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path),
      sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  /** Single-file logger products are driver-assembled by design (a
    * TOA5/EddyPro site-year is ~17.5k rows; byte-stable output needs
    * one ordered writer) — but a misuse with a bulk frame must fail
    * loudly BEFORE the driver tries to materialize it, not OOM. */
  private val MaxWriterRows = 2000000L

  private def collectBounded(df: DataFrame, path: String)
      : Array[InternalRow] = {
    // Two jobs on purpose: the count runs WITHOUT materializing rows
    // on the driver, so a bulk-frame misuse fails loudly before any
    // multi-GB collect. The duplicated sort only costs legitimate
    // (<= cap) writes one extra pass over a bounded frame.
    val n = df.limit((MaxWriterRows + 1).toInt).count()
    require(n <= MaxWriterRows,
      s"refusing to write $path: frame exceeds $MaxWriterRows rows — " +
      "single-file TOA5/EddyPro output is a driver-side artifact; " +
      "write bulk frames to parquet instead")
    inExecution(df, "collect")(_.executeCollect())
  }

  /** Runs `body` over `df`'s physical plan as one SQL execution named
    * `name`, so query-execution listeners see it as they see any
    * Dataset action, while `body` reads Catalyst rows directly. */
  private[graft] def inExecution[T](df: DataFrame, name: String)(
      body: SparkPlan => T): T = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name))(body(qe.executedPlan))
  }
}
