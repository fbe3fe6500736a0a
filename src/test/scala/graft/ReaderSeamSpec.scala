package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One scan seam for every logger-file format: TOA5, TOB, CSIXML and
  * netCDF are read through the `sources/v2` base, and no second reader
  * architecture, parse path or pruning knob comes back. */
class ReaderSeamSpec extends AnyFunSuite {

  private def scalaFiles(root: String): Seq[Path] = {
    val r = Paths.get(root)
    assert(Files.isDirectory(r), s"$r not found")
    Files.walk(r).iterator().asScala.toList
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
  }

  private def containing(files: Seq[Path], needle: String): Seq[String] =
    files.filter(p => Files.readString(p).contains(needle)).map(_.toString)

  private val Base = "src/main/scala/graft/sources/v2/LoggerScan.scala"

  // every reader file: the sources and the netCDF product reader
  private val readers = scalaFiles("src/main/scala/graft/sources") :+
    Paths.get("src/main/scala/graft/pipeline/L1Pipeline.scala")

  test("the reader filter sees all four format files") {
    val names = readers.map(_.getFileName.toString).toSet
    for (f <- Seq("Toa5.scala", "Tob.scala", "CsiXml.scala", "NetCdf.scala",
        "L1Pipeline.scala"))
      assert(names.contains(f), f)
  }

  test("no source reader parses through from_csv or binaryFile") {
    for (needle <- Seq("from" + "_csv", "binary" + "File", "Binary" + "Files"))
      assert(containing(readers, needle).isEmpty, needle)
  }

  test("no logger reader decodes into boxed Rows through Encoders.row") {
    assert(containing(readers, "Encoders" + ".row").isEmpty)
  }

  test("the V2 scan scaffolding is implemented only in the base") {
    for (needle <- Seq("extends " + "TableProvider", "extends " + "Scan",
        "PartitionReader" + "Factory"))
      assert(containing(scalaFiles("src"), needle) == Seq(Base), needle)
  }

  test("no file under src names the retired span-pruning option") {
    assert(containing(scalaFiles("src"), "span" + "Pruning").isEmpty)
  }
}
