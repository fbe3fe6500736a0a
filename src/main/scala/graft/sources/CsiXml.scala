package graft.sources

import java.io.ByteArrayInputStream
import javax.xml.parsers.DocumentBuilderFactory

import org.apache.spark.sql.SparkSession

import graft.core.{FileInfo, TableMeta, VariableMeta}
import graft.sources.v2.CsiXmlV2

/** S10: CSIXML source — Campbell's XML data format: a <head> with
  * environment + per-field metadata, and a <data> section of <r>
  * records carrying time/record-no attributes and per-field <v>
  * values (reference behavior:
  * code/file_handling/read_cs_files.py:204-243,152-174).
  *
  * Files are small (logger pulls); [[read]] is the logger-file scan
  * seam (`format("csixml")`, [[graft.sources.v2.CsiXmlDataSource]]),
  * which parses each file with the JDK DOM parser in one task, no
  * external XML dependency.
  */
object CsiXml {

  private[sources] def parseDoc(bytes: Array[Byte]) = {
    val f = DocumentBuilderFactory.newInstance()
    f.setNamespaceAware(false)
    // hardening: no external entities (untrusted logger input)
    f.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    f.newDocumentBuilder().parse(new ByteArrayInputStream(bytes))
  }

  private[sources] def childElems(n: org.w3c.dom.Node): Seq[org.w3c.dom.Element] = {
    val nl = n.getChildNodes
    (0 until nl.getLength).map(nl.item)
      .collect { case e: org.w3c.dom.Element => e }
  }

  /** Header metadata: field names/types from <head>. */
  def probeMeta(doc: org.w3c.dom.Document): TableMeta = {
    val root = doc.getDocumentElement
    val head = childElems(root).find(_.getTagName == "head").get
    val fields = childElems(head).find(_.getTagName == "fields").get
    val vars = childElems(fields).map { f =>
      VariableMeta(
        name = f.getAttribute("name"),
        units = Option(f.getAttribute("units")).getOrElse(""),
        sampling = Option(f.getAttribute("process")).getOrElse(""))
    }
    val env = childElems(head).find(_.getTagName == "environment")
    def envVal(tag: String): String = env.flatMap(e =>
      childElems(e).find(_.getTagName == tag).map(_.getTextContent))
      .getOrElse("")
    TableMeta(
      FileInfo("CSIXML", envVal("station-name"), envVal("model"),
        envVal("serial-no"), envVal("os-version"), envVal("dld-name"),
        "", envVal("table-name")),
      VariableMeta("TIMESTAMP", "TS", "") +:
        VariableMeta("RECORD", "RN", "") +: vars)
  }

  private def xmlEscape(s: String): String =
    s.flatMap {
      case '&' => "&amp;"; case '<' => "&lt;"; case '>' => "&gt;"
      case '"' => "&quot;"; case c => c.toString
    }

  /** CSIXML writer — emits the head/environment/fields + data/r/v
    * document shape the reader (and the reference's
    * read_cs_files.py:204-243) consumes: ISO `%Y-%m-%dT%H:%M:%S` time
    * attribute, integer record-no attribute, one <v> element per field
    * (empty element for null). Doubles render shortest-repr, so a
    * write-then-read roundtrip is value-exact. Driver-side by design:
    * CSIXML files are small logger pulls, like the TOA5 single-file
    * writer. `rows` are (timestamp, record-no, field values in meta
    * order after TIMESTAMP/RECORD). */
  def write(path: String, meta: TableMeta,
      rows: Seq[(java.time.LocalDateTime, Long, Seq[Any])]): Unit = {
    val valueVars = meta.variables
      .filterNot(v => v.name == "TIMESTAMP" || v.name == "RECORD")
    val tFmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss")
    val i = meta.info
    val sb = new StringBuilder
    sb.append("<?xml version=\"1.0\" standalone=\"yes\"?>\n")
    sb.append("<csixml version=\"1.0\">\n <head>\n  <environment>\n")
    Seq("station-name" -> i.stationName, "table-name" -> i.tableName,
        "model" -> i.loggerType, "serial-no" -> i.serialNum,
        "os-version" -> i.osVersion, "dld-name" -> i.programName)
      .foreach { case (tag, v) =>
        sb.append(s"   <$tag>${xmlEscape(v)}</$tag>\n") }
    sb.append("  </environment>\n  <fields>\n")
    valueVars.foreach { v =>
      sb.append("   <field name=\"").append(xmlEscape(v.name))
        .append("\" type=\"xsd:double\" units=\"").append(xmlEscape(v.units))
        .append("\" process=\"").append(xmlEscape(v.sampling))
        .append("\"/>\n")
    }
    sb.append("  </fields>\n </head>\n <data>\n")
    rows.foreach { case (ts, no, vals) =>
      sb.append("  <r time=\"").append(ts.format(tFmt))
        .append("\" no=\"").append(no).append("\">")
      vals.foreach {
        case null => sb.append("<v/>")
        case v    => sb.append("<v>").append(v.toString).append("</v>")
      }
      sb.append("</r>\n")
    }
    sb.append(" </data>\n</csixml>\n")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(path).getParent)
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Reads a CSIXML file, directory or glob, one file per task, with
    * the first listed file's head (parsed on the driver, so the read
    * runs no Spark job) as the [[TableMeta]]. Every file's <fields>
    * must match that head (D7), else its reader throws naming it. */
  def read(spark: SparkSession, path: String): Parsed =
    Parsed(spark.read.format("csixml").load(path), probeMeta(CsiXmlV2.probe(path)))
}
