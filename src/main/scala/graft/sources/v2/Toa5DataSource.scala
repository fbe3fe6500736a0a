package graft.sources.v2

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.ZoneId
import java.time.format.{DateTimeFormatter, ResolverStyle}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{FileFormat, TableMeta}
import graft.sources.Toa5

/** TOA5 and EddyPro logger files through the logger-file scan seam
  * ([[LoggerSource]]): `spark.read.format("toa5").load(path)`. This is
  * the one TOA5 reader: [[graft.sources.Toa5.read]] is this scan plus
  * the header's [[graft.core.TableMeta]]. A 2-column projection over
  * a 200-column logger table converts ~1% of the cells.
  *
  * Row semantics (reference: code/file_handling/file_io.py:61-262):
  * header lines are skipped per format; a line splits at the
  * separator outside double quotes and each cell loses its enclosing
  * quotes. Declared non-numeric columns are strings, all else double
  * with NA and bad cells -> null (D3). DATETIME is TIMESTAMP (TOA5) or
  * date + time (EddyPro) read as wall-clock time in the session time
  * zone, the zone the TOA5 writers render; a row with an unparseable
  * timestamp is dropped (D4).
  */
class Toa5DataSource extends LoggerSource(Toa5V2)

/** The header is the file's format and [[TableMeta]]; the schema its
  * columns, then DATETIME. A split is a whole file. */
object Toa5V2 extends LoggerFormat[(FileFormat, TableMeta)] {
  val name = "toa5"

  def header(file: String): (FileFormat, TableMeta) = {
    val (fmt, lines) = Toa5.probeHeader(file)
    (fmt, Toa5.parseHeader(fmt, lines))
  }

  def schema(header: (FileFormat, TableMeta)): StructType =
    Toa5.schemaFor(header._1, header._2).add("DATETIME", TimestampType)

  def reader(split: FileSplit, header: (FileFormat, TableMeta),
      fields: Array[Int], zone: ZoneId): PartitionReader[InternalRow] =
    new Toa5Reader(split.file, header._1, schema(header), fields, zone)

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
      else LoggerFormat.micros(if (idxs.length == 1) cells(idxs(0))
        else idxs.map(cells(_)).mkString(" "), formatter, zone)
  }
}

/** Streams one file: skips its header block, splits each line,
  * converts ONLY the required fields into one reused row, and drops
  * lines with unparseable timestamps. */
private[v2] final class Toa5Reader(file: String, fmt: FileFormat,
    schema: StructType, fields: Array[Int], zone: ZoneId)
    extends PartitionReader[InternalRow] {
  private val names = schema.fieldNames.toSeq.init   // the header's
  private val ts = new Toa5V2.TsSpec(fmt, names)
  // the cell of each output column; -1 for DATETIME, the last column,
  // derived from TIMESTAMP (TOA5) or date + time (EddyPro)
  private val src: Array[Int] = fields.map(f => if (f == names.length) -1 else f)
  private val types = fields.map(schema(_).dataType)
  private val isDouble = types.map(_ == DoubleType)
  private val row = new SpecificInternalRow(types.toSeq)
  private val cells = new Toa5V2.Cells(fmt.separator.head)
  private val in = Files.newBufferedReader(Paths.get(file), StandardCharsets.UTF_8)
  (0 until fmt.headerLines).foreach(_ => in.readLine())

  override def next(): Boolean = {
    var line = in.readLine()
    while (line != null) {
      if (line.nonEmpty) {
        cells.split(line)
        val micros = ts.micros(cells, zone)
        if (micros != Long.MinValue) {      // D4: bad timestamp -> drop
          var i = 0
          while (i < src.length) {
            val si = src(i)
            if (si < 0) row.setLong(i, micros)
            else if (si >= cells.count) row.setNullAt(i) // short row
            else {
              val raw = cells(si)
              if (!isDouble(i)) row.update(i, UTF8String.fromString(raw))
              else if (raw == fmt.naToken || raw.isEmpty) row.setNullAt(i)
              else try row.setDouble(i, raw.toDouble)
              catch { case _: NumberFormatException => row.setNullAt(i) }
            }
            i += 1
          }
          return true
        }
      }
      line = in.readLine()
    }
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit = in.close()
}
