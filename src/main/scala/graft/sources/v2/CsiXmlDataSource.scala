package graft.sources.v2

import java.nio.file.{Files, Paths}
import java.time.ZoneId
import java.time.format.{DateTimeFormatter, ResolverStyle}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types._
import org.w3c.dom.Document

import graft.sources.CsiXml

/** CSIXML files through the logger-file scan seam:
  * `spark.read.format("csixml")`, behind [[graft.sources.CsiXml.read]]. */
class CsiXmlDataSource extends LoggerSource(CsiXmlV2)

/** A file is one split; its header is the whole parsed document, so a
  * reader parses it once. Row semantics (reference:
  * code/file_handling/read_cs_files.py:204-243): DATETIME is a
  * record's `time` attribute, read strictly as wall-clock time in the
  * session time zone, and a record whose time does not parse is
  * dropped (D4); RECORD is its `no`. The head's fields are doubles,
  * bound by position to the <v> elements: missing or non-numeric is
  * null. */
private[sources] object CsiXmlV2 extends LoggerFormat[Document] {
  val name = "csixml"

  private val TimeFormat = DateTimeFormatter.ofPattern("uuuu-MM-dd'T'HH:mm:ss")
    .withResolverStyle(ResolverStyle.STRICT)

  def header(file: String): Document =
    CsiXml.parseDoc(Files.readAllBytes(Paths.get(file)))

  def schema(doc: Document): StructType = StructType(
    StructField("DATETIME", TimestampType) +: StructField("RECORD", LongType) +:
      CsiXml.probeMeta(doc).variables.drop(2).map(v => StructField(v.name, DoubleType)))

  def reader(split: FileSplit, doc: Document, fields: Array[Int],
      zone: ZoneId): PartitionReader[InternalRow] = {
    val full = schema(doc)
    val row = new SpecificInternalRow(fields.toSeq.map(full(_).dataType))
    val data = CsiXml.childElems(doc.getDocumentElement)
      .find(_.getTagName == "data").get
    val records = CsiXml.childElems(data).iterator.filter(_.getTagName == "r")
    LoggerFormat.reader(records.flatMap { r =>
      val us = LoggerFormat.micros(r.getAttribute("time"), TimeFormat, zone)
      if (us == Long.MinValue) None               // D4: bad time -> drop
      else {
        val vs = CsiXml.childElems(r).filter(_.getTagName == "v")
        var k = 0
        while (k < fields.length) {
          fields(k) match {
            case 0 => row.setLong(k, us)
            case 1 => row.setLong(k, r.getAttribute("no").toLong)
            case f => vs.lift(f - 2).flatMap(_.getTextContent.toDoubleOption)
              .fold(row.setNullAt(k))(row.setDouble(k, _))
          }
          k += 1
        }
        Some(row)
      }
    })
  }
}
