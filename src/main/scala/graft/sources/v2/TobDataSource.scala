package graft.sources.v2

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.Tob

/** DataSource V2 for Campbell TOB1/TOB3 binary files:
  * `spark.read.format("tob").load(dir)`.
  *
  * SURVEY §7.3's second phase-2 item (the frame decoder inside a
  * `PartitionReader`). Schema comes from a driver-side header probe of
  * the first file. Each file is cut into byte ranges of whole frames
  * (TOB3) or whole records (TOB1), sized by Spark's own file-split
  * rule, so one logger day decodes on several cores with no shuffle.
  * The decode runs inside the partition reader on the tested
  * [[graft.sources.Tob]] record walker (validation stamps, minor
  * frames, FP2 NaN -> null), which converts only the columns Catalyst
  * asks for into one reused row.
  */
class TobDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "tob"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TobV2.fullSchema(Toa5V2.pathOf(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new TobTable(schema, properties.get("path"))
}

private[v2] class TobTable(tableSchema: StructType, path: String)
    extends Table with SupportsRead {
  override def name(): String = s"tob:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TobScanBuilder(tableSchema, Toa5V2.pathOf(options))
}

private[v2] class TobScanBuilder(fullSchema: StructType, path: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = fullSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new TobScan(path, fullSchema, required)
}

/** One split: the data bytes [from, until) of `file`, whole units of
  * its layout; the reader also reads the header, [0, dataStart). */
private[v2] case class TobSplit(file: String, dataStart: Int,
    from: Long, until: Long) extends InputPartition

private[v2] class TobScan(path: String, fullSchema: StructType,
    required: StructType) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Cuts every file into unit-aligned splits. The split size is
    * Spark's own for file sources (`FilePartition.maxSplitBytes`:
    * `spark.sql.files.maxPartitionBytes`, `openCostInBytes`,
    * `minPartitionNum`, else the default parallelism); a file is cut
    * into that many equal runs of units, so its splits are even. A
    * truncated tail unit belongs to no split, and every file gets at
    * least one split, so every header is checked by a reader. */
  override def planInputPartitions(): Array[InputPartition] = {
    val files = Toa5V2.listFiles(path).map { f =>
      val (h, dataStart) = TobV2.header(f)
      (f, dataStart, Files.size(Paths.get(f)), new Tob.Layout(h).unitSize)
    }
    val openCost = SQLConf.get.filesOpenCostInBytes
    val maxSplit = FilePartition.maxSplitBytes(SparkSession.active,
      files.map(_._3 + openCost).sum)
    files.flatMap { case (f, dataStart, len, unit) =>
      val units = math.max(0L, len - dataStart) / unit
      val n = math.max(1L, math.min(units, (units * unit + maxSplit - 1) / maxSplit))
      val per = (units + n - 1) / n
      (0L until n).map { k =>
        TobSplit(f, dataStart, dataStart + math.min(units, k * per) * unit,
          dataStart + math.min(units, (k + 1) * per) * unit): InputPartition
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new TobReaderFactory(fullSchema, required)
}

private[v2] class TobReaderFactory(fullSchema: StructType,
    required: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new TobPartitionReader(partition.asInstanceOf[TobSplit], fullSchema, required)
}

/** Decodes one split into one reused row with required-column pruning.
  * It reads the file's header and its own byte range, never the whole
  * file. Records stream in file order; a TOB3 split whose valid
  * frames are out of record order (a ring-buffer wrap) is emitted in
  * record order within the split. */
private[v2] class TobPartitionReader(split: TobSplit,
    fullSchema: StructType, required: StructType)
    extends PartitionReader[InternalRow] {
  private val rows: Iterator[InternalRow] = {
    val ch = FileChannel.open(Paths.get(split.file))
    val (head, body) = try {
      (TobV2.readAt(ch, 0L, split.dataStart),
        TobV2.readAt(ch, split.from, (split.until - split.from).toInt))
    } finally ch.close()
    val (fh, dataStart) = Tob.parseHeader(head)
    val file = split.file
    require(dataStart == split.dataStart,
      s"TOB header of $file changed while planning the scan")
    // the scan's schema came from a single probe file: a file whose
    // own header disagrees would mis-bind columns — fail loudly.
    // Names + types must match exactly; a user-declared schema
    // (external metadata) may differ in metadata, but must not
    // declare non-nullable where the decoder can emit null (FP2 NaN
    // -> null) — codegen would read garbage instead of failing.
    val own = Tob.sparkSchema(fh)
    def shape(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSeq
    require(shape(own) == shape(fullSchema),
      s"TOB header mismatch in $file: decoded schema $own differs " +
      s"from probed/declared $fullSchema — decode a homogeneous directory")
    own.fields.zip(fullSchema.fields).foreach { case (o, d) =>
      require(d.nullable || !o.nullable,
        s"declared schema marks ${d.name} non-nullable but the TOB " +
        s"decoder can emit nulls for it in $file")
    }
    new Tob.Records(body, 0, body.length, new Tob.Layout(fh),
      required.fields.map(f => fullSchema.fieldIndex(f.name)),
      recordOrder = true)
  }

  private var current: InternalRow = _

  override def next(): Boolean =
    if (!rows.hasNext) false
    else { current = rows.next(); true }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}

private[sources] object TobV2 {
  /** Driver-side probe: the first file's header is the scan schema. */
  def fullSchema(path: String): StructType =
    Tob.sparkSchema(header(Toa5V2.listFiles(path).head)._1)

  /** A file's header and data offset, read in growing prefixes (the
    * header is a few hundred bytes unless the table is very wide). */
  def header(file: String): (Tob.TobHeader, Int) = {
    val ch = FileChannel.open(Paths.get(file))
    try {
      val len = ch.size()
      var n = 4096L
      var parsed: Option[(Tob.TobHeader, Int)] = None
      while (parsed.isEmpty) {
        val head = readAt(ch, 0L, math.min(n, len).toInt)
        parsed =
          try Some(Tob.parseHeader(head))
          catch { case e: IllegalArgumentException if n < len => None }
        n *= 4
      }
      parsed.get
    } finally ch.close()
  }

  def readAt(ch: FileChannel, at: Long, n: Int): Array[Byte] = {
    val buf = ByteBuffer.allocate(n)
    while (buf.hasRemaining && ch.read(buf, at + buf.position()) >= 0) ()
    require(!buf.hasRemaining, s"short read: wanted $n bytes at $at")
    buf.array()
  }
}
