package graft.sources.v2

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.{LocalDateTime, ZoneId}
import java.time.format.{DateTimeFormatter, ResolverStyle}
import java.util.OptionalLong
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.core.FileFormat
import graft.sources.Toa5

/** DataSource V2 for TOA5 and EddyPro logger files:
  * `spark.read.format("toa5").load(path)`, where `path` is a file, a
  * directory or a glob leaf (a pattern such as `*.dat` as the last
  * path element). This is the one TOA5
  * reader: [[graft.sources.Toa5.read]] is this scan plus the header's
  * [[graft.core.TableMeta]].
  *
  *  - '''Column pruning into the parse''': only the fields Catalyst
  *    asks for (ReadSchema) are converted, so a 2-column projection
  *    over a 200-column logger table does ~1% of the conversion work.
  *  - '''Size statistics''': the scan reports the listed files' total
  *    size, so AQE and the join planner plan against a real size.
  *  - '''One partition per file''': a site-year is hundreds of daily
  *    files, natural parallelism across executors with no shuffle. A
  *    file larger than `maxPartitionBytes` is still one task.
  *
  * Row semantics (reference: code/file_handling/file_io.py:61-262):
  * the schema comes from the first file's header, and every file's
  * own header must name the same columns in the same order (D7), else
  * its reader throws naming the file. Header lines are skipped per
  * format; a line splits at the separator outside double quotes and
  * each cell loses its enclosing quotes. Declared non-numeric columns
  * are strings, all else double with NA and bad cells -> null (D3).
  * DATETIME is TIMESTAMP (TOA5) or date + time (EddyPro) read as
  * wall-clock time in the session time zone, the zone the TOA5
  * writers render; a row with an unparseable timestamp is dropped (D4).
  */
class Toa5DataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "toa5"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Toa5V2.fullSchema(Toa5V2.pathOf(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new Toa5Table(schema, properties.get("path"))
}

private[v2] class Toa5Table(tableSchema: StructType, path: String)
    extends Table with SupportsRead {
  override def name(): String = s"toa5:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new Toa5ScanBuilder(tableSchema, Toa5V2.pathOf(options))
}

private[v2] class Toa5ScanBuilder(fullSchema: StructType, path: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = fullSchema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new Toa5Scan(path, fullSchema, required,
    SQLConf.get.sessionLocalTimeZone)
}

private[v2] case class Toa5InputPartition(file: String) extends InputPartition

private[v2] class Toa5Scan(path: String, fullSchema: StructType,
    required: StructType, timeZone: String)
    extends Scan with Batch with SupportsReportStatistics {
  private lazy val files = Toa5V2.listFiles(path)

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def estimateStatistics(): Statistics = {
    val bytes = files.map(f => Files.size(Paths.get(f))).sum
    new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(bytes)
      override def numRows(): OptionalLong = OptionalLong.empty()
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    files.map(f => Toa5InputPartition(f): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new Toa5ReaderFactory(fullSchema, required, timeZone)
}

private[v2] class Toa5ReaderFactory(fullSchema: StructType,
    required: StructType, timeZone: String) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new Toa5PartitionReader(partition.asInstanceOf[Toa5InputPartition].file,
      fullSchema, required, ZoneId.of(timeZone))
}

/** Streams one file: checks its header against the scan schema, skips
  * the header block, splits each row, converts ONLY the required
  * fields, drops rows with unparseable timestamps. */
private[v2] class Toa5PartitionReader(file: String,
    fullSchema: StructType, required: StructType, zone: ZoneId)
    extends PartitionReader[InternalRow] {
  private val (fmt, names) = {
    val (fmt, header) = Toa5.probeHeader(file)
    (fmt, Toa5.parseHeader(fmt, header).variableNames)
  }
  private val scanNames = fullSchema.fieldNames.toSeq.filter(_ != "DATETIME")
  if (names != scanNames) throw new IllegalArgumentException(
    s"TOA5 header mismatch in $file: columns ${names.mkString(",")} " +
    s"differ from the scan's ${scanNames.mkString(",")}")
  private val ts = new Toa5V2.TsSpec(fmt, names)
  // own-header index of each required output column (DATETIME is
  // derived: TIMESTAMP for TOA5, date+time for EddyPro)
  private val srcIdx: Array[Int] = required.fields.map {
    case f if f.name == "DATETIME" => -1
    case f => names.indexOf(f.name)
  }
  private val isDouble = required.fields.map(_.dataType == DoubleType)
  private val cells = new Toa5V2.Cells(fmt.separator.head)
  private val reader = Files.newBufferedReader(
    Paths.get(file), StandardCharsets.UTF_8)
  (0 until fmt.headerLines).foreach(_ => reader.readLine())

  private var row: InternalRow = _

  override def next(): Boolean = {
    var line = reader.readLine()
    while (line != null) {
      if (line.nonEmpty) {
        cells.split(line)
        val micros = ts.micros(cells, zone)
        if (micros != Long.MinValue) {      // D4: bad timestamp -> drop
          val out = new GenericInternalRow(srcIdx.length)
          var i = 0
          while (i < srcIdx.length) {
            val si = srcIdx(i)
            if (si < 0) out.update(i, micros)
            else if (si >= cells.count) out.update(i, null) // short row
            else {
              val raw = cells(si)
              if (!isDouble(i)) out.update(i, UTF8String.fromString(raw))
              else if (raw == fmt.naToken || raw.isEmpty) out.update(i, null)
              else try out.update(i, raw.toDouble)
              catch { case _: NumberFormatException => out.update(i, null) }
            }
            i += 1
          }
          row = out
          return true
        }
      }
      line = reader.readLine()
    }
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit = reader.close()
}

/** Pure helpers shared by planner and reader (unit-tested directly). */
object Toa5V2 {

  /** The cells of one line split at `sep` outside double quotes, as
    * Spark's CSV parser splits it: a quote opens a quoted cell only at
    * the cell's start, and `""` inside one is an escaped quote. Cell k
    * is the text between its separators with its enclosing quotes
    * stripped. The one cell grammar of TOA5/EddyPro header and body
    * lines; a reader reuses one instance for every line. */
  final class Cells(sep: Char) {
    private var line: String = ""
    private var starts = new Array[Int](16)
    private var ends = new Array[Int](16)
    private var n = 0

    def count: Int = n

    def split(s: String): Unit = {
      line = s
      n = 0
      var start = 0
      var quoted = false
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '"') {
          if (!quoted) quoted = i == start
          else if (i + 1 < s.length && s.charAt(i + 1) == '"') i += 1
          else quoted = false
        } else if (c == sep && !quoted) {
          add(start, i)
          start = i + 1
        }
        i += 1
      }
      add(start, s.length)
    }

    private def add(from: Int, until: Int): Unit = {
      if (n == starts.length) {
        starts = java.util.Arrays.copyOf(starts, n * 2)
        ends = java.util.Arrays.copyOf(ends, n * 2)
      }
      val q = until - from >= 2 && line.charAt(from) == '"' &&
        line.charAt(until - 1) == '"'
      starts(n) = if (q) from + 1 else from
      ends(n) = if (q) until - 1 else until
      n += 1
    }

    def apply(k: Int): String = line.substring(starts(k), ends(k))
  }

  /** Which cells of a `fmt` file whose header names `names` carry the
    * event time, and how to parse them: TOA5 has a TIMESTAMP column,
    * EddyPro splits date and time. The pattern resolves strictly, as
    * Spark's own timestamp parser does (no 2024-02-30). */
  final class TsSpec(fmt: FileFormat, names: Seq[String]) {
    private val (idxs, pattern) = fmt.name match {
      case "TOA5" => (Array(names.indexOf("TIMESTAMP")), "uuuu-MM-dd HH:mm:ss")
      case "EddyPro" =>
        (Array(names.indexOf("date"), names.indexOf("time")), "uuuu-MM-dd HH:mm")
      case other => throw new IllegalArgumentException(other)
    }
    private val formatter = DateTimeFormatter.ofPattern(pattern)
      .withResolverStyle(ResolverStyle.STRICT)

    /** Event time of a split line as epoch micros, its wall-clock
      * time read in `zone`; Long.MinValue if missing or unparseable. */
    def micros(cells: Cells, zone: ZoneId): Long =
      if (idxs.exists(i => i < 0 || i >= cells.count)) Long.MinValue
      else try {
        val s = if (idxs.length == 1) cells(idxs(0))
          else idxs.map(cells(_)).mkString(" ")
        val t = LocalDateTime.parse(s, formatter).atZone(zone)
        t.toEpochSecond * 1000000L + t.getNano / 1000L
      } catch { case _: java.time.DateTimeException => Long.MinValue }
  }

  def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "toa5 source requires a path")
    p
  }

  /** The files of a file, a directory or a glob leaf, sorted. */
  def listFiles(path: String): Seq[String] = {
    val p = Paths.get(path)
    val name = Option(p.getFileName).map(_.toString).getOrElse("")
    val glob = name.exists(c => c == '*' || c == '?' || c == '[')
    if (!glob && !Files.isDirectory(p)) Seq(path)
    else {
      // a glob leaf (dir/*.dat) matches within the parent directory
      val stream =
        if (glob) Files.newDirectoryStream(p.getParent, name)
        else Files.newDirectoryStream(p)
      try stream.iterator().asScala
        .filter(f => !Files.isDirectory(f)).map(_.toString).toSeq.sorted
      finally stream.close()
    }
  }

  def fullSchema(path: String): StructType = {
    val (fmt, header) = Toa5.probeHeader(listFiles(path).head)
    val meta = Toa5.parseHeader(fmt, header)
    Toa5.schemaFor(fmt, meta).add("DATETIME", TimestampType)
  }
}
