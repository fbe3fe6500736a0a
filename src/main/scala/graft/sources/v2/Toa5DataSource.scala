package graft.sources.v2

import java.io.RandomAccessFile
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.regex.Pattern
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.core.FileFormat
import graft.sources.Toa5

/** DataSource V2 for TOA5 logger files: `spark.read.format("toa5")
  * .load(dir)`.
  *
  * SURVEY §7.3's phase-2 item. What V2 buys over the codec path
  * ([[graft.sources.Toa5.read]], which parses via `from_csv`):
  *
  *  - '''Column pruning into the parse''': `from_csv` materializes
  *    every declared column regardless of projection; this reader
  *    converts only the fields Catalyst asks for (ReadSchema), so a
  *    2-column projection over a 200-column logger table does ~1% of
  *    the conversion work.
  *  - '''File-level time-range pruning''': TOA5 files are appended in
  *    time order, so first/mid/last row samples bound the file's
  *    span. DATETIME range filters prune whole files at planning time
  *    by probing ~3 lines per file — the file-granular analog of
  *    parquet row-group stats, and exactly how the reference's
  *    date-named file layout is used (SURVEY §2.1 S6/S7).
  *    PRECONDITION: pruning assumes per-file timestamps are (near-)
  *    monotonic — the normal append-only logger case. A file whose
  *    interior excursions (clock stepped backward/forward) escape all
  *    three probe samples can have matching rows pruned with the
  *    file; for such data pass `.option("spanPruning", false)` to
  *    disable the probe (filters still apply row-level — Spark
  *    re-evaluates them above the scan either way, so within a kept
  *    file correctness never depends on the probe).
  *  - '''One partition per file''': a site-year is hundreds of daily
  *    files — natural parallelism across executors with no shuffle.
  *
  * Row semantics match the codec path: declared non-numeric columns
  * are strings, all else double with bad cells -> null (D3); DATETIME
  * parsed from TIMESTAMP, unparseable rows dropped (D4); header lines
  * skipped per format. Reference: code/file_handling/file_io.py:61-262.
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
    new Toa5ScanBuilder(tableSchema, Toa5V2.pathOf(options),
      options.getBoolean("spanPruning", true))
}

private[v2] class Toa5ScanBuilder(fullSchema: StructType, path: String,
    spanPruning: Boolean)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Keep DATETIME range filters for file pruning; everything is
    * returned as residual (Spark re-evaluates), so the probe is pure
    * optimization. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => Toa5V2.tsBound(f).isDefined)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new Toa5Scan(path, fullSchema, required,
      if (spanPruning) Toa5V2.boundsOf(pushed) else Toa5V2.Unbounded)
}

private[v2] case class Toa5InputPartition(file: String) extends InputPartition

private[v2] class Toa5Scan(path: String, fullSchema: StructType,
    required: StructType, bounds: (Long, Long)) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val files = Toa5V2.listFiles(path)
    val kept =
      if (bounds == Toa5V2.Unbounded) files
      else files.filter(f => Toa5V2.overlaps(f, bounds))
    kept.map(f => Toa5InputPartition(f): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new Toa5ReaderFactory(fullSchema, required)
}

private[v2] class Toa5ReaderFactory(fullSchema: StructType,
    required: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new Toa5PartitionReader(
      partition.asInstanceOf[Toa5InputPartition].file, fullSchema, required)
}

/** Streams one file: skips the header block, splits each row, converts
  * ONLY the required fields, drops rows with unparseable timestamps. */
private[v2] class Toa5PartitionReader(file: String,
    fullSchema: StructType, required: StructType)
    extends PartitionReader[InternalRow] {
  private val (fmt, tsSpec) = Toa5V2.tsSpecOf(file)
  private val sep = Pattern.compile(Pattern.quote(fmt.separator))
  // full-schema index of each required output column (DATETIME is
  // derived: TIMESTAMP for TOA5, date+time for EddyPro)
  private val srcIdx: Array[Int] = required.fields.map {
    case f if f.name == "DATETIME" => -1
    case f => fullSchema.fieldIndex(f.name)
  }
  private val reader = Files.newBufferedReader(
    Paths.get(file), StandardCharsets.UTF_8)
  (0 until fmt.headerLines).foreach(_ => reader.readLine())

  private var row: InternalRow = _

  override def next(): Boolean = {
    var line = reader.readLine()
    while (line != null) {
      if (line.nonEmpty) {
        val cells = sep.split(line, -1)
        val ts = Toa5V2.cellsTsMicros(tsSpec, cells)
        if (ts != Long.MinValue) {          // D4: bad timestamp -> drop
          val out = new GenericInternalRow(srcIdx.length)
          var i = 0
          while (i < srcIdx.length) {
            val si = srcIdx(i)
            if (si < 0) out.update(i, ts)
            else if (si >= cells.length) out.update(i, null) // short row
            else {
              val raw = Toa5V2.unquote(cells(si))
              required.fields(i).dataType match {
                case DoubleType =>
                  if (raw == fmt.naToken || raw.isEmpty) out.update(i, null)
                  else try out.update(i, raw.toDouble)
                  catch { case _: NumberFormatException => out.update(i, null) }
                case _ => out.update(i, UTF8String.fromString(raw))
              }
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
  val Unbounded: (Long, Long) = (Long.MinValue, Long.MaxValue)
  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Which cells carry the event time, and their joined pattern —
    * TOA5 has a TIMESTAMP column, EddyPro splits date and time. The
    * formatter is built once per spec, i.e. once per reader. */
  final case class TsSpec(idxs: Array[Int], pattern: String)
      extends Serializable {
    @transient lazy val formatter: DateTimeFormatter =
      DateTimeFormatter.ofPattern(pattern)
  }

  def tsSpecOf(file: String): (FileFormat, TsSpec) = {
    val (fmt, header) = Toa5.probeHeader(file)
    val names = Toa5.parseHeader(fmt, header).variableNames
    fmt.name match {
      case "TOA5" =>
        (fmt, TsSpec(Array(names.indexOf("TIMESTAMP")), "yyyy-MM-dd HH:mm:ss"))
      case "EddyPro" =>
        (fmt, TsSpec(Array(names.indexOf("date"), names.indexOf("time")),
          "yyyy-MM-dd HH:mm"))
      case other => throw new IllegalArgumentException(other)
    }
  }

  /** Event-time micros of a split row, Long.MinValue if unparseable. */
  def cellsTsMicros(spec: TsSpec, cells: Array[String]): Long = {
    if (spec.idxs.exists(i => i < 0 || i >= cells.length))
      return Long.MinValue
    parseTsMicros(spec.idxs.map(i => unquote(cells(i))).mkString(" "),
      spec.formatter)
  }

  def parseTsMicros(s: String, fmt: DateTimeFormatter): Long =
    try {
      val ldt = LocalDateTime.parse(s, fmt)
      ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
        ldt.getNano / 1000L
    } catch { case _: Exception => Long.MinValue }

  def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "toa5 source requires a path")
    p
  }

  def listFiles(path: String): Seq[String] = {
    val p = Paths.get(path)
    val name = Option(p.getFileName).map(_.toString).getOrElse("")
    if (name.exists(c => c == '*' || c == '?' || c == '[')) {
      // glob leaf (dir/*.dat): match within the parent directory
      val stream = Files.newDirectoryStream(p.getParent, name)
      try stream.iterator().asScala
        .filter(f => !Files.isDirectory(f)).map(_.toString).toSeq.sorted
      finally stream.close()
    } else if (Files.isDirectory(p))
      Files.list(p).iterator().asScala
        .filter(f => !Files.isDirectory(f)).map(_.toString).toSeq.sorted
    else Seq(path)
  }

  def formatOf(file: String): FileFormat = Toa5.probeHeader(file)._1

  def fullSchema(path: String): StructType = {
    val first = listFiles(path).head
    val (fmt, header) = Toa5.probeHeader(first)
    val meta = Toa5.parseHeader(fmt, header)
    Toa5.schemaFor(fmt, meta).add("DATETIME", TimestampType)
  }

  def unquote(s: String): String =
    if (s.length >= 2 && s.charAt(0) == '"' && s.charAt(s.length - 1) == '"')
      s.substring(1, s.length - 1)
    else s

  /** Micros since epoch (UTC wall-clock), Long.MinValue if unparseable. */
  def parseTsMicros(s: String): Long = parseTsMicros(s, tsFmt)

  /** (lowerMicros, upperMicros) implied by a DATETIME filter, if any. */
  def tsBound(f: Filter): Option[(Long, Long)] = {
    def micros(v: Any): Option[Long] = v match {
      case t: java.sql.Timestamp => Some(t.getTime * 1000L + t.getNanos / 1000 % 1000)
      case i: java.time.Instant =>
        Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
      case _ => None
    }
    f match {
      case GreaterThan("DATETIME", v) => micros(v).map(m => (m + 1, Long.MaxValue))
      case GreaterThanOrEqual("DATETIME", v) => micros(v).map(m => (m, Long.MaxValue))
      case LessThan("DATETIME", v) => micros(v).map(m => (Long.MinValue, m - 1))
      case LessThanOrEqual("DATETIME", v) => micros(v).map(m => (Long.MinValue, m))
      case EqualTo("DATETIME", v) => micros(v).map(m => (m, m))
      case _ => None
    }
  }

  /** Intersection of all pushed timestamp bounds. */
  def boundsOf(filters: Array[Filter]): (Long, Long) =
    filters.flatMap(tsBound).foldLeft(Unbounded) { case ((lo, hi), (l, h)) =>
      (math.max(lo, l), math.min(hi, h)) }

  /** Probe a file's [first, last] row timestamps (2 reads: head line
    * after the header block, tail block of the file) and test overlap
    * with the bound. Unparseable probes keep the file (safe). */
  def overlaps(file: String, bounds: (Long, Long)): Boolean = {
    val span = fileTimeSpan(file)
    span.forall { case (lo, hi) => hi >= bounds._1 && lo <= bounds._2 }
  }

  def fileTimeSpan(file: String): Option[(Long, Long)] =
    try {
      val (fmt, spec) = tsSpecOf(file)
      val reader = Files.newBufferedReader(
        Paths.get(file), StandardCharsets.UTF_8)
      val firstData =
        try {
          (0 until fmt.headerLines).foreach(_ => reader.readLine())
          Iterator.continually(reader.readLine())
            .takeWhile(_ != null).find(_.nonEmpty)
        } finally reader.close()
      val lastData = lastNonEmptyLine(file)
      // A third sample from the middle of the file widens the span
      // for mildly non-monotonic files (logger clock stepped back):
      // if the mid row falls outside [first, last] the probe catches
      // it. An interior excursion that misses all three samples can
      // still be pruned away — hence the monotonic-file precondition
      // and the spanPruning=false escape hatch.
      val midData = lineAtOffset(file, fmt)
      def ts(line: String): Long =
        cellsTsMicros(spec, line.split(Pattern.quote(fmt.separator), -1))
      for {
        f <- firstData; l <- lastData
        samples = (Seq(ts(f), ts(l)) ++ midData.map(ts))
          .filter(_ != Long.MinValue)
        if samples.nonEmpty
      } yield (samples.min, samples.max)
    } catch { case _: Exception => None }

  /** First complete non-empty line at/after the file's byte midpoint
    * (None for small files where the tail read already covers it). */
  private def lineAtOffset(file: String, fmt: FileFormat): Option[String] = {
    val raf = new RandomAccessFile(file, "r")
    try {
      val len = raf.length()
      if (len < 32768) return None
      raf.seek(len / 2)
      raf.readLine() // discard the (likely partial) current line
      Option(raf.readLine()).filter(_.nonEmpty)
    } finally raf.close()
  }

  /** Last complete non-empty line via a bounded tail read. */
  private def lastNonEmptyLine(file: String, tailBytes: Int = 8192): Option[String] = {
    val raf = new RandomAccessFile(file, "r")
    try {
      val len = raf.length()
      val start = math.max(0L, len - tailBytes)
      raf.seek(start)
      val buf = new Array[Byte]((len - start).toInt)
      raf.readFully(buf)
      val text = new String(buf, StandardCharsets.UTF_8)
      val lines = text.split("\r?\n").filter(_.nonEmpty)
      // if we started mid-file the first fragment may be partial - the
      // LAST line is what we want and is complete (trailing newline or
      // end-of-file)
      lines.lastOption.filter(_ => lines.length > 1 || start == 0)
    } finally raf.close()
  }
}
