package graft.sources.v2

import java.nio.file.{Files, Paths}
import java.time.{LocalDateTime, ZoneId}
import java.time.format.DateTimeFormatter
import java.util.OptionalLong
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The one DataSource V2 scan of logger files (`toa5`, `tob`,
  * `csixml`, `netcdf`): `spark.read.format(name).load(path)`, `path` a
  * file, a directory or a glob leaf (last element `*.dat`). It owns the
  * listing (sorted, without subdirectories or names starting with `.`
  * or `_`; an empty one fails naming format and path), the schema
  * (the first file's header, parsed on the driver, so building the
  * frame runs no job), column pruning, size statistics (the files'
  * total size), split planning at Spark's file-split size, and the D7
  * check: every reader parses its own file's header and throws an
  * `IllegalArgumentException` naming the file if its schema (names
  * and types, in order) differs from the scan's. A [[LoggerFormat]]
  * supplies only its header parser, its splits and its decoder.
  */
abstract class LoggerSource[H](format: LoggerFormat[H])
    extends TableProvider with DataSourceRegister {
  override def shortName(): String = format.name
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    format.schema(format.probe(options.get("path")))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new LoggerTable(format, schema, properties.get("path"))
}

/** A logger file format as the scan seam reads it. `H` is a file's
  * parsed header: the scan schema, and whatever the decoder needs. */
abstract class LoggerFormat[H] extends Serializable {
  /** The format's name in `spark.read.format` and in messages. */
  def name: String

  /** The parsed header of `file`, read by the probe and every reader. */
  def header(file: String): H

  /** The scan schema a header declares. */
  def schema(header: H): StructType

  /** The splits of `file`, `length` bytes long, at a split size of
    * `maxSplit` bytes: the whole file, unless the format can cut it. */
  def splits(file: String, length: Long, maxSplit: Long): Seq[FileSplit] =
    Seq(FileSplit(file, 0L, length))

  /** The rows of `split`, whose file has `header`, in ONE reused row
    * holding the schema columns `fields`; only those are converted.
    * `zone` is the session time zone taken when the scan was built,
    * for formats that store wall-clock time. */
  def reader(split: FileSplit, header: H, fields: Array[Int],
      zone: ZoneId): PartitionReader[InternalRow]

  /** The files of a file, a directory or a glob leaf, sorted. */
  def listFiles(path: String): Seq[String] = {
    require(path != null, s"$name source requires a path")
    val p = Paths.get(path)
    val leaf = Option(p.getFileName).map(_.toString).getOrElse("")
    val glob = leaf.exists(c => c == '*' || c == '?' || c == '[')
    val files =
      if (!glob && !Files.isDirectory(p)) Seq(path)
      else {
        // a glob leaf (dir/*.dat) matches within the parent directory
        val stream =
          if (glob) Files.newDirectoryStream(p.getParent, leaf)
          else Files.newDirectoryStream(p)
        try stream.iterator().asScala.filter { f =>
          val n = f.getFileName.toString
          !n.startsWith(".") && !n.startsWith("_") && !Files.isDirectory(f)
        }.map(_.toString).toSeq.sorted
        finally stream.close()
      }
    if (files.isEmpty)
      throw new IllegalArgumentException(s"no $name files under $path")
    files
  }

  /** The first listed file's header: the scan's schema. */
  def probe(path: String): H = header(listFiles(path).head)
}

object LoggerFormat {
  /** Epoch micros of the wall-clock time `text`, parsed by `format`
    * and read in `zone`; Long.MinValue if it does not parse. */
  def micros(text: String, format: DateTimeFormatter, zone: ZoneId): Long =
    try {
      val t = LocalDateTime.parse(text, format).atZone(zone)
      t.toEpochSecond * 1000000L + t.getNano / 1000L
    } catch { case _: java.time.DateTimeException => Long.MinValue }

  /** A reader over `rows`, an iterator that refills one row. */
  def reader(rows: Iterator[InternalRow]): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      override def next(): Boolean = rows.hasNext && { row = rows.next(); true }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
}

/** Bytes [from, until) of `file`, in the units its format cuts. */
final case class FileSplit(file: String, from: Long, until: Long)
    extends InputPartition

private[v2] class LoggerTable[H](format: LoggerFormat[H],
    tableSchema: StructType, path: String) extends Table with SupportsRead {
  override def name(): String = s"${format.name}:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType = tableSchema
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan = new LoggerScan(format, path, tableSchema,
        required, SQLConf.get.sessionLocalTimeZone)
    }
}

private[v2] class LoggerScan[H](format: LoggerFormat[H], path: String,
    fullSchema: StructType, required: StructType, timeZone: String)
    extends Scan with Batch with SupportsReportStatistics {
  private lazy val files: Seq[(String, Long)] =
    format.listFiles(path).map(f => f -> Files.size(Paths.get(f)))

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong = OptionalLong.of(files.map(_._2).sum)
    override def numRows(): OptionalLong = OptionalLong.empty()
  }

  /** At Spark's own split size for file sources (`maxPartitionBytes`,
    * `openCostInBytes`, `minPartitionNum`, else the parallelism). */
  override def planInputPartitions(): Array[InputPartition] = {
    val openCost = SQLConf.get.filesOpenCostInBytes
    val maxSplit = FilePartition.maxSplitBytes(SparkSession.active,
      files.map(_._2 + openCost).sum)
    files.flatMap { case (f, len) => format.splits(f, len, maxSplit) }
      .toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new LoggerReaderFactory(format, fullSchema, required, timeZone)
}

private[v2] class LoggerReaderFactory[H](format: LoggerFormat[H],
    fullSchema: StructType, required: StructType, timeZone: String)
    extends PartitionReaderFactory {
  /** Checks the file's header against the scan schema, then decodes
    * the split. A declared schema may not mark non-nullable a column
    * the decoder can null: codegen would read garbage, not fail. */
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val split = partition.asInstanceOf[FileSplit]
    val header = format.header(split.file)
    val own = format.schema(header)
    def shape(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSeq
    if (shape(own) != shape(fullSchema)) throw new IllegalArgumentException(
      s"${format.name} header mismatch in ${split.file}: columns " +
      s"${own.toDDL} differ from the scan's ${fullSchema.toDDL}")
    own.fields.zip(fullSchema.fields).foreach { case (o, d) =>
      require(d.nullable || !o.nullable,
        s"declared schema marks ${d.name} non-nullable but the " +
        s"${format.name} decoder can emit nulls for it in ${split.file}")
    }
    format.reader(split, header, required.fieldNames.map(fullSchema.fieldIndex),
      ZoneId.of(timeZone))
  }
}
