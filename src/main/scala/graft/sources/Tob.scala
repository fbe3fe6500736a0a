package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{FileInfo, TableMeta, VariableMeta}
import graft.functions.Fp2
import graft.sources.v2.TobV2

/** Campbell Scientific TOB1/TOB3 binary sources (S8/S9).
  *
  * Format knowledge from the public "Campbell Scientific Data File
  * Formats" document; decode behavior mirrored from the reference
  * (/root/reference/code/file_handling/read_cs_files.py:278-500):
  *
  *  - TOB1: 5 ASCII header lines (info, names, units, processing,
  *    types) then fixed-size records. Channel types: FP2 (big-endian
  *    u16, custom float), IEEE4 (little-endian f32), IEEE4B (BE f32),
  *    UINT2/INT4/UINT4 (big-endian), ULONG little-endian in TOB1,
  *    Boolean (1 byte), ASCII(n). Leading SECONDS/NANOSECONDS (1990
  *    epoch) become the DATETIME column.
  *  - TOB3: 6 ASCII header lines, then fixed-size frames: a 12-byte
  *    little-endian header (seconds, subseconds, begin record no), a
  *    run of sub-records, and a 4-byte footer (2 LE u16: offset/flag
  *    word + validation word). A frame is valid iff its validation
  *    word equals the header-declared stamp or its ones-complement.
  *    footer word0 == 0 -> major (full) frame; != 0 -> minor frame
  *    holding only `offset bytes / record size` records. Sub-record i
  *    timestamps at header.seconds + i*subStep + subScale*subseconds.
  *
  * Scale shape: [[read]] is `spark.read.format("tob")`, the
  * logger-file scan seam ([[graft.sources.v2.TobDataSource]]), which
  * cuts each file into
  * frame-aligned splits and runs the [[Records]] walker into reused
  * Catalyst rows. The whole-file `decodeTob*` views are the reference
  * the specs hold the splits to.
  */
object Tob {

  // --- channel codecs -------------------------------------------------

  /** One channel's codec: `put` decodes the value stored at absolute
    * offset `at` straight into `row(k)`, reading `le` or `be` (two
    * views of the same bytes) by the channel's byte order. */
  sealed trait Chan {
    def size: Int
    def dataType: DataType
    def put(le: ByteBuffer, be: ByteBuffer, at: Int, row: InternalRow, k: Int): Unit
  }
  private def view(order: ByteOrder, le: ByteBuffer, be: ByteBuffer) =
    if (order == ByteOrder.LITTLE_ENDIAN) le else be
  case object Fp2Chan extends Chan {
    val size = 2; val dataType = DoubleType
    def put(le: ByteBuffer, be: ByteBuffer, at: Int, row: InternalRow, k: Int): Unit = {
      val d = Fp2.decode(java.lang.Short.toUnsignedInt(be.getShort(at)))
      if (d.isNaN) row.setNullAt(k)   // NaN sentinel -> null (engine norm, §7.4#1)
      else row.setDouble(k, d)
    }
  }
  final case class F32(order: ByteOrder) extends Chan {
    val size = 4; val dataType = FloatType
    def put(le: ByteBuffer, be: ByteBuffer, at: Int, row: InternalRow, k: Int): Unit =
      row.setFloat(k, view(order, le, be).getFloat(at))
  }
  final case class U16(order: ByteOrder) extends Chan {
    val size = 2; val dataType = IntegerType
    def put(le: ByteBuffer, be: ByteBuffer, at: Int, row: InternalRow, k: Int): Unit =
      row.setInt(k, java.lang.Short.toUnsignedInt(view(order, le, be).getShort(at)))
  }
  final case class I32(order: ByteOrder) extends Chan {
    val size = 4; val dataType = IntegerType
    def put(le: ByteBuffer, be: ByteBuffer, at: Int, row: InternalRow, k: Int): Unit =
      row.setInt(k, view(order, le, be).getInt(at))
  }
  final case class U32(order: ByteOrder) extends Chan {
    val size = 4; val dataType = LongType
    def put(le: ByteBuffer, be: ByteBuffer, at: Int, row: InternalRow, k: Int): Unit =
      row.setLong(k, java.lang.Integer.toUnsignedLong(view(order, le, be).getInt(at)))
  }
  case object BoolChan extends Chan {
    val size = 1; val dataType = BooleanType
    def put(le: ByteBuffer, be: ByteBuffer, at: Int, row: InternalRow, k: Int): Unit =
      row.setBoolean(k, le.get(at) != 0)
  }
  final case class AsciiChan(n: Int) extends Chan {
    val size = n; val dataType = StringType
    def put(le: ByteBuffer, be: ByteBuffer, at: Int, row: InternalRow, k: Int): Unit = {
      val bytes = le.array()
      var len = 0
      while (len < n && bytes(at + len) != 0) len += 1
      row.update(k, UTF8String.fromString(
        new String(bytes, at, len, StandardCharsets.US_ASCII)))
    }
  }

  private val AsciiRe = """ASCII\((\d+)\)""".r

  /** Channel codec for a declared type name. `tob1` flips ULONG/UINT4
    * to little-endian (the reference's observed TOB1 endianness). */
  def channel(typeName: String, tob1: Boolean): Chan = typeName match {
    case "FP2" => Fp2Chan
    case "IEEE4" => F32(ByteOrder.LITTLE_ENDIAN)
    case "IEEE4B" => F32(ByteOrder.BIG_ENDIAN)
    case "UINT2" => U16(ByteOrder.BIG_ENDIAN)
    case "INT4" => I32(ByteOrder.BIG_ENDIAN)
    case "UINT4" | "ULONG" =>
      U32(if (tob1) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    case "LONG" => I32(ByteOrder.LITTLE_ENDIAN)
    case "Boolean" | "BOOL" => BoolChan
    case AsciiRe(n) => AsciiChan(n.toInt)
    case other => throw new IllegalArgumentException(s"channel type $other")
  }

  private val Epoch1990Us: Long =
    java.time.LocalDateTime.of(1990, 1, 1, 0, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L

  // --- header handling ------------------------------------------------

  final case class TobHeader(
      format: String,               // TOB1 | TOB3
      lines: Seq[Seq[String]],      // unquoted header fields per line
      names: Seq[String], units: Seq[String], sampling: Seq[String],
      types: Seq[String])

  def parseHeader(bytes: Array[Byte]): (TobHeader, Int) = {
    val fmt = new String(bytes, 0, math.min(8, bytes.length),
      StandardCharsets.US_ASCII)
    val nLines = if (fmt.startsWith("\"TOB1\"")) 5
      else if (fmt.startsWith("\"TOB3\"")) 6
      else throw new IllegalArgumentException(
        s"not a TOB file: ${fmt.take(8)}")
    var pos = 0; val lines = Seq.newBuilder[String]
    for (_ <- 0 until nLines) {
      val nl = bytes.indexOf('\n'.toByte, pos)
      require(nl > 0, "truncated TOB header")
      val raw = new String(bytes, pos, nl - pos, StandardCharsets.US_ASCII)
      lines += raw.stripSuffix("\r")
      pos = nl + 1
    }
    val ls = lines.result().map(_.split(",", -1).toSeq
      .map(_.replaceAll("^\"|\"$", "")))
    val format = ls.head.head
    val (names, units, sampling, types) =
      if (format == "TOB1") (ls(1), ls(2), ls(3), ls(4))
      else (ls(2), ls(3), ls(4), ls(5))
    (TobHeader(format, ls, names, units, sampling, types), pos)
  }

  def tableMeta(h: TobHeader): TableMeta = {
    val info = h.lines.head.padTo(8, "")
    TableMeta(
      FileInfo(info(0), info(1), info(2), info(3), info(4), info(5),
        info(6), if (h.format == "TOB3") h.lines(1).head else info(7)),
      h.names.zipWithIndex.map { case (n, i) =>
        VariableMeta(n, h.units.lift(i).getOrElse(""),
          h.sampling.lift(i).getOrElse(""))
      })
  }

  // --- TOB3 frame grammar ---------------------------------------------

  final case class Tob3Spec(
      frameSize: Int, validation: Int, validationAlt: Int,
      subStepUs: Long, subScaleUs: Long)

  /** Parse TOB3 line-1 timing metadata: field 1 like "100 MSEC"
    * (non-timestamped record interval), field 2 frame size, field 4
    * validation stamp, field 5 frame time resolution like
    * "SecMsec"/"Sec100Usec". */
  def tob3Spec(h: TobHeader): Tob3Spec = {
    val l1 = h.lines(1)
    val Array(resNum, mult) = l1(1).trim.split(" ", 2).padTo(2, "SEC")
    val multUs: Double = mult.trim match {
      case "USEC" => 1.0
      case "MSEC" => 1000.0
      case "SEC"  => 1000000.0
      case "MIN"  => 60000000.0
      case _ => 1000000.0
    }
    val subStepUs = (resNum.toDouble * multUs).toLong
    // frame time resolution: Sec<k><U|M>sec => subseconds unit k/scale
    val ftr = l1(5).trim
    val subScaleUs: Long = {
      val body = ftr.stripPrefix("Sec").stripSuffix("sec").stripSuffix("Sec")
      val (digits, suffix) = body.span(_.isDigit)
      val k = if (digits.isEmpty) 1L else digits.toLong
      suffix.toUpperCase match {
        case "U" => k                  // k microseconds
        case "M" => k * 1000L          // k milliseconds
        case _ => k * 1000000L
      }
    }
    val stamp = l1(4).trim.toInt
    Tob3Spec(l1(2).trim.toInt, stamp, 0xffff - stamp, subStepUs, subScaleUs)
  }

  private val FrameHeader = 12
  private val FrameFooter = 4

  /** The TOB3 frame grammar, written down once for the record walker,
    * the order probe and the split planner. A frame is `frameSize`
    * bytes: a 12-byte little-endian header (seconds, subseconds, begin
    * record number), `perFrame` record slots, and a 4-byte footer of
    * two LE u16 words (word0, validation stamp). A frame is valid iff
    * its stamp equals the header-declared one or its ones-complement;
    * word0 == 0 marks a major (full) frame, otherwise word0's low 12
    * bits count the used bytes including header and footer (a minor
    * frame). Record i is stamped seconds + i*subStep +
    * subScale*subseconds. All reads are absolute, from a little-endian
    * view of the bytes. */
  final class Tob3Frames(val spec: Tob3Spec, recSize: Int) {
    val frameSize: Int = spec.frameSize
    val perFrame: Int = (frameSize - FrameHeader - FrameFooter) / recSize

    /** Usable records of the frame at `pos`: 0 if its stamp is invalid. */
    def records(le: ByteBuffer, pos: Int): Int = {
      val word0 = java.lang.Short.toUnsignedInt(
        le.getShort(pos + frameSize - FrameFooter))
      val stamp = java.lang.Short.toUnsignedInt(le.getShort(pos + frameSize - 2))
      if (stamp != spec.validation && stamp != spec.validationAlt) 0
      else if (word0 == 0) perFrame
      else math.min(perFrame, math.max(0,
        ((word0 & 0x0fff) - FrameHeader - FrameFooter) / recSize))
    }

    def beginRecord(le: ByteBuffer, pos: Int): Long =
      java.lang.Integer.toUnsignedLong(le.getInt(pos + 8))

    def micros(le: ByteBuffer, pos: Int, i: Int): Long =
      Epoch1990Us +
        java.lang.Integer.toUnsignedLong(le.getInt(pos)) * 1000000L +
        i * spec.subStepUs +
        java.lang.Integer.toUnsignedLong(le.getInt(pos + 4)) * spec.subScaleUs

    /** True iff the valid frames in [from, until) carry non-overlapping,
      * nondecreasing record RANGES, i.e. file order already is record
      * order. Nondecreasing begin records alone are not enough: two
      * valid frames with overlapping ranges (a duplicated flush) would
      * stream out of record order, so each frame's begin must be >=
      * the previous valid frame's end. False for ring-buffer wraps. */
    def inOrder(le: ByteBuffer, from: Int, until: Int): Boolean = {
      var pos = from
      var lastEnd = Long.MinValue
      while (pos + frameSize <= until) {
        val n = records(le, pos)
        if (n > 0) {
          val beg = beginRecord(le, pos)
          if (beg < lastEnd) return false
          lastEnd = beg + n
        }
        pos += frameSize
      }
      true
    }
  }

  // --- record walker --------------------------------------------------

  /** A TOB file's record layout, from its header: channel codecs and
    * their offsets inside a record, and the TOB3 frame grammar. The
    * data region is a run of fixed-size units, whole records (TOB1)
    * or whole frames (TOB3), and splits cut it only between units. */
  final class Layout(val header: TobHeader) {
    val tob1: Boolean = header.format == "TOB1"
    require(tob1 || header.format == "TOB3", s"not a TOB format: ${header.format}")
    val chans: Array[Chan] = header.types.map(channel(_, tob1)).toArray
    val offsets: Array[Int] = chans.scanLeft(0)(_ + _.size)
    val recSize: Int = offsets.last
    if (tob1) {
      require(header.names.take(2).map(_.toUpperCase) ==
        Seq("SECONDS", "NANOSECONDS"),
        s"TOB1 must lead with SECONDS,NANOSECONDS (got ${header.names.take(2)})")
      require(chans.take(2).forall(_ == U32(ByteOrder.LITTLE_ENDIAN)),
        s"TOB1 SECONDS,NANOSECONDS must be ULONG (got ${header.types.take(2)})")
    }
    val frames: Tob3Frames =
      if (tob1) null else new Tob3Frames(tob3Spec(header), recSize)
    val unitSize: Int = if (tob1) recSize else frames.frameSize
    val schema: StructType = sparkSchema(header)
  }

  /** Streams the records of `bytes[from, until)`, whole units of
    * `layout`, into ONE reused row holding the full-schema columns
    * `fields` (DATETIME as epoch micros). Only those columns are
    * decoded, straight from the bytes: no per-record `Row`, `Seq` or
    * boxing. Callers that keep a row past the next `next()` copy it.
    *
    * Rows come in file order. With `recordOrder`, a TOB3 range whose
    * valid frames are out of record order (a ring-buffer wrap) comes
    * stably sorted by record number instead, the order of [[decodeTob3]];
    * the sort holds a few primitive words per record, never the rows. */
  final class Records(bytes: Array[Byte], from: Int, until: Int,
      layout: Layout, fields: Array[Int], recordOrder: Boolean)
      extends Iterator[InternalRow] {
    private val le = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    private val be = ByteBuffer.wrap(bytes)
    private val frames = layout.frames
    private val chans = layout.chans
    private val offsets = layout.offsets
    private val unit = layout.unitSize
    private val row = new SpecificInternalRow(
      fields.toSeq.map(layout.schema(_).dataType))
    // per output column: -1 DATETIME, -2 RECORD, else its channel
    private val src: Array[Int] = fields.map { f =>
      if (f == 0) -1
      else if (layout.tob1) f + 1
      else if (f == 1) -2
      else f - 2
    }

    // stably record-sorted slots (frame * perFrame + i), or null to stream
    private val slots: Array[Int] =
      if (frames == null || !recordOrder || frames.inOrder(le, from, until)) null
      else {
        val nFrames = (until - from) / unit
        var total = 0
        var f = 0
        while (f < nFrames) { total += frames.records(le, from + f * unit); f += 1 }
        val rec = new Array[Long](total)
        val slot = new Array[Int](total)
        var j = 0
        f = 0
        while (f < nFrames) {
          val pos = from + f * unit
          val n = frames.records(le, pos)
          val beg = frames.beginRecord(le, pos)
          var i = 0
          while (i < n) {
            rec(j) = beg + i; slot(j) = f * frames.perFrame + i
            i += 1; j += 1
          }
          f += 1
        }
        val order = Array.range(0, total)
        scala.util.Sorting.stableSort(order, (a: Int, b: Int) => rec(a) < rec(b))
        order.map(slot)
      }
    private var cursor = 0

    // streaming cursor: record i of the n usable ones of the unit at pos
    private var pos = 0
    private var nextUnit = from
    private var i = 0
    private var n = 0
    private def seek(): Unit =
      while (i >= n && nextUnit + unit <= until) {
        pos = nextUnit; nextUnit += unit; i = 0
        n = if (frames == null) 1 else frames.records(le, pos)
      }
    if (slots == null) seek()

    private def fill(pos: Int, i: Int): Unit = {
      val at = if (frames == null) pos else pos + FrameHeader + i * layout.recSize
      var k = 0
      while (k < src.length) {
        val c = src(k)
        if (c >= 0) chans(c).put(le, be, at + offsets(c), row, k)
        else if (c == -2) row.setLong(k, frames.beginRecord(le, pos) + i)
        else if (frames != null) row.setLong(k, frames.micros(le, pos, i))
        else row.setLong(k, Epoch1990Us +
          java.lang.Integer.toUnsignedLong(le.getInt(at)) * 1000000L +
          java.lang.Integer.toUnsignedLong(le.getInt(at + offsets(1))) / 1000L)
        k += 1
      }
    }

    override def hasNext: Boolean =
      if (slots != null) cursor < slots.length else i < n

    override def next(): InternalRow = {
      if (slots != null) {
        val s = slots(cursor); cursor += 1
        fill(from + s / frames.perFrame * unit, s % frames.perFrame)
      } else {
        fill(pos, i); i += 1; seek()
      }
      row
    }
  }

  /** `Row` view of a whole file's bytes, for the specs:
    * (DATETIME us, [RECORD,] fields...) in full-schema order, strings
    * as `String`. A truncated tail unit is ignored. */
  private def rowView(bytes: Array[Byte], format: String,
      recordOrder: Boolean): (Iterator[Row], TobHeader) = {
    val (h, dataStart) = parseHeader(bytes)
    require(h.format == format, s"expected $format, got ${h.format}")
    val layout = new Layout(h)
    val end = dataStart +
      (bytes.length - dataStart) / layout.unitSize * layout.unitSize
    val types = layout.schema.fields.map(_.dataType)
    val recs = new Records(bytes, dataStart, end, layout,
      types.indices.toArray, recordOrder)
    (recs.map { r =>
      Row.fromSeq(types.indices.map { k =>
        r.get(k, types(k)) match {
          case s: UTF8String => s.toString
          case v => v
        }
      })
    }, h)
  }

  // --- TOB1 -----------------------------------------------------------

  /** Decode one TOB1 file's bytes to rows of (DATETIME us, fields...).
    * Leading SECONDS/NANOSECONDS channels collapse into the timestamp. */
  def decodeTob1(bytes: Array[Byte]): (Seq[Row], TobHeader) = {
    val (it, h) = rowView(bytes, "TOB1", recordOrder = false)
    (it.toVector, h)
  }

  // --- TOB3 -----------------------------------------------------------

  /** Decode one TOB3 file: frames -> (DATETIME us, RECORD, fields...).
    * Invalid-stamp frames are skipped; minor frames contribute only
    * their declared record count; output sorted by record number
    * (reference sorts by timestamp; record no is the same order). */
  def decodeTob3(bytes: Array[Byte]): (Seq[Row], TobHeader) = {
    val (it, h) = rowView(bytes, "TOB3", recordOrder = true)
    (it.toVector, h)
  }

  /** Streaming TOB3 decode: rows in FILE order. File order equals the
    * [[decodeTob3]] record-number order iff [[tob3FramesInOrder]]. */
  def decodeTob3Rows(bytes: Array[Byte]): (Iterator[Row], TobHeader) =
    rowView(bytes, "TOB3", recordOrder = false)

  /** Header-only order probe over a whole file: see [[Tob3Frames.inOrder]]. */
  def tob3FramesInOrder(bytes: Array[Byte]): Boolean = {
    val (h, dataStart) = parseHeader(bytes)
    require(h.format == "TOB3", s"expected TOB3, got ${h.format}")
    new Layout(h).frames.inOrder(
      ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN),
      dataStart, bytes.length)
  }

  /** TOB1 encoder (test/round-trip utility): rows of
    * (timestampMicros, float values...) under the given channel names.
    * Emits SECONDS/NANOSECONDS + IEEE4 channels. */
  def writeTob1(path: String, info: Seq[String], valueNames: Seq[String],
      rows: Seq[(Long, Seq[Float])]): Unit = {
    def quoted(fs: Seq[String]) = fs.map(f => "\"" + f + "\"").mkString(",")
    val names = Seq("SECONDS", "NANOSECONDS") ++ valueNames
    val header = Seq(
      quoted(info.padTo(8, "")),
      quoted(names),
      quoted(Seq("SECONDS", "NANOSECONDS") ++ valueNames.map(_ => "arb")),
      quoted(names.map(_ => "Smp")),
      quoted(Seq("ULONG", "ULONG") ++ valueNames.map(_ => "IEEE4"))
    ).mkString("", "\r\n", "\r\n").getBytes(StandardCharsets.US_ASCII)
    val recSize = 8 + 4 * valueNames.length
    val body = ByteBuffer.allocate(rows.length * recSize)
      .order(ByteOrder.LITTLE_ENDIAN)
    rows.foreach { case (us, vals) =>
      val rel = us - Epoch1990Us
      body.putInt((rel / 1000000L).toInt)
      body.putInt(((rel % 1000000L) * 1000L).toInt)
      vals.foreach(body.putFloat)
    }
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(path).getParent)
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      header ++ body.array())
  }

  /** TOB3 encoder (test/round-trip utility): `values` laid out
    * `recsPerFrame` records per frame under a single IEEE4 channel
    * set, 12-byte LE frame header (seconds, subseconds=0, begin
    * record), 4-byte footer. Frame f starts at `baseUs + f*frameSec`
    * whole seconds, records step `intervalUs` within the frame
    * (`recsPerFrame * intervalUs` must equal a whole second times
    * frameSec so header seconds stay integral). Frames listed in
    * `corruptFrames` get an invalid validation stamp (decoder must
    * skip them); a trailing partial frame is written as a minor frame
    * (footer word0 = used byte count). */
  def writeTob3(path: String, info: Seq[String], tableName: String,
      valueNames: Seq[String], values: Seq[Seq[Float]],
      baseUs: Long, intervalUs: Long, recsPerFrame: Int,
      corruptFrames: Set[Int] = Set.empty): Unit = {
    val recSize = 4 * valueNames.length
    val hdrSize = 12; val footSize = 4
    val frameSize = hdrSize + recsPerFrame * recSize + footSize
    val frameUs = recsPerFrame * intervalUs
    require(frameUs % 1000000L == 0,
      s"frame span ${frameUs}us must be whole seconds")
    require((baseUs - Epoch1990Us) % 1000000L == 0 && baseUs >= Epoch1990Us,
      "baseUs must be whole seconds after 1990-01-01")
    val validation = 43981 // 0xABCD
    def quoted(fs: Seq[String]) = fs.map(f => "\"" + f + "\"").mkString(",")
    val intervalStr =
      if (intervalUs % 1000 == 0) s"${intervalUs / 1000} MSEC"
      else s"$intervalUs USEC"
    val header = Seq(
      quoted(info.padTo(8, "").take(8)),
      quoted(Seq(tableName, intervalStr, frameSize.toString, "0",
        validation.toString, "SecMsec")),
      quoted(valueNames),
      quoted(valueNames.map(_ => "arb")),
      quoted(valueNames.map(_ => "Smp")),
      quoted(valueNames.map(_ => "IEEE4"))
    ).mkString("", "\r\n", "\r\n").getBytes(StandardCharsets.US_ASCII)

    val nFrames = (values.length + recsPerFrame - 1) / recsPerFrame
    val body = ByteBuffer.allocate(nFrames * frameSize)
      .order(ByteOrder.LITTLE_ENDIAN)
    for (f <- 0 until nFrames) {
      val recs = values.slice(f * recsPerFrame, (f + 1) * recsPerFrame)
      val frameStart = body.position()
      body.putInt(((baseUs - Epoch1990Us) / 1000000L
        + f.toLong * (frameUs / 1000000L)).toInt) // seconds since 1990
      body.putInt(0)                              // subseconds
      body.putInt(f * recsPerFrame)               // begin record no
      recs.foreach(_.foreach(body.putFloat))
      body.position(frameStart + hdrSize + recsPerFrame * recSize)
      val minor = recs.length < recsPerFrame
      val word0 =
        if (minor) hdrSize + recs.length * recSize + footSize else 0
      body.putShort(word0.toShort)
      val stamp = if (corruptFrames.contains(f)) 1 else validation
      body.putShort(stamp.toShort)
    }
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(path).getParent)
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      header ++ body.array())
  }

  // --- Spark sources --------------------------------------------------

  private[sources] def sparkSchema(h: TobHeader): StructType = {
    val chans = h.types.map(channel(_, h.format == "TOB1"))
    val fields = h.names.zip(chans).map { case (n, c) =>
      StructField(n, c.dataType, nullable = true) }
    if (h.format == "TOB1")
      StructType(StructField("DATETIME", TimestampType) +:
        fields.drop(2))
    else
      StructType(StructField("DATETIME", TimestampType) +:
        StructField("RECORD", LongType) +: fields)
  }

  /** Reads a file, a directory or a glob leaf of TOB files through
    * the logger-file scan seam ([[graft.sources.v2.TobDataSource]]),
    * with the first file's header as the [[TableMeta]]. Planning reads
    * headers only and runs no Spark job; each split's reader rejects a
    * file whose header differs from the first. */
  def read(spark: SparkSession, path: String): Parsed =
    Parsed(spark.read.format("tob").load(path), tableMeta(TobV2.probe(path)._1))
}
