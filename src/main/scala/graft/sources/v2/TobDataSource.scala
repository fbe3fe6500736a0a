package graft.sources.v2

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.Paths
import java.time.ZoneId

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types.StructType

import graft.sources.Tob

/** Campbell TOB1/TOB3 binary files through the logger-file scan seam
  * ([[LoggerSource]]): `spark.read.format("tob").load(dir)`.
  *
  * SURVEY §7.3's second phase-2 item (the frame decoder inside a
  * `PartitionReader`). Each file is cut into byte ranges of whole
  * frames (TOB3) or whole records (TOB1), sized by Spark's own
  * file-split rule, so one logger day decodes on several cores with no
  * shuffle. The decode runs on the tested [[graft.sources.Tob]] record
  * walker (validation stamps, minor frames, FP2 NaN -> null), which
  * converts only the columns Catalyst asks for into one reused row.
  */
class TobDataSource extends LoggerSource(TobV2)

/** The header is the file's [[Tob.TobHeader]] and its data offset. */
private[sources] object TobV2 extends LoggerFormat[(Tob.TobHeader, Int)] {
  val name = "tob"

  def schema(header: (Tob.TobHeader, Int)): StructType = Tob.sparkSchema(header._1)

  /** Cuts a file into as many equal runs of whole units as `maxSplit`
    * asks. A truncated tail unit belongs to no split, and every file
    * gets one split at least, so every header is checked by a reader. */
  override def splits(file: String, length: Long, maxSplit: Long): Seq[FileSplit] = {
    val (h, dataStart) = header(file)
    val unit = new Tob.Layout(h).unitSize
    val units = math.max(0L, length - dataStart) / unit
    val n = math.max(1L, math.min(units, (units * unit + maxSplit - 1) / maxSplit))
    val per = (units + n - 1) / n
    (0L until n).map { k =>
      FileSplit(file, dataStart + math.min(units, k * per) * unit,
        dataStart + math.min(units, (k + 1) * per) * unit)
    }
  }

  /** Decodes one split, reading its own byte range, never the whole
    * file. Records stream in file order; a TOB3 split whose valid
    * frames are out of record order (a ring-buffer wrap) is emitted in
    * record order within the split. */
  def reader(split: FileSplit, header: (Tob.TobHeader, Int),
      fields: Array[Int], zone: ZoneId): PartitionReader[InternalRow] = {
    val (h, dataStart) = header
    val layout = new Tob.Layout(h)
    require(split.from >= dataStart && (split.from - dataStart) % layout.unitSize == 0,
      s"TOB header of ${split.file} changed while planning the scan")
    val ch = FileChannel.open(Paths.get(split.file))
    val body = try readAt(ch, split.from, (split.until - split.from).toInt)
      finally ch.close()
    LoggerFormat.reader(new Tob.Records(body, 0, body.length, layout, fields,
      recordOrder = true))
  }

  /** A file's header and data offset, read in growing prefixes (the
    * header is a few hundred bytes unless the table is very wide). */
  def header(file: String): (Tob.TobHeader, Int) = {
    val ch = FileChannel.open(Paths.get(file))
    try Iterator.iterate(4096L)(_ * 4).flatMap { n =>
      try Some(Tob.parseHeader(readAt(ch, 0L, math.min(n, ch.size()).toInt)))
      catch { case _: IllegalArgumentException if n < ch.size() => None }
    }.next()
    finally ch.close()
  }

  def readAt(ch: FileChannel, at: Long, n: Int): Array[Byte] = {
    val buf = ByteBuffer.allocate(n)
    while (buf.hasRemaining && ch.read(buf, at + buf.position()) >= 0) ()
    require(!buf.hasRemaining, s"short read: wanted $n bytes at $at")
    buf.array()
  }
}
