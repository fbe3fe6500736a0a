package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One reader per logger format: the TOA5 and TOB readers are the V2
  * scans, and no second parse path or pruning knob comes back. */
class ReaderSeamSpec extends AnyFunSuite {

  private def containing(root: String, needle: String): Seq[String] = {
    val r = Paths.get(root)
    assert(Files.isDirectory(r), s"$r not found")
    Files.walk(r).iterator().asScala.toList
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains(needle))
      .map(_.toString)
  }

  // CsiXml reads its XML through binaryFile, and that is its only
  // path, so the binaryFile needle covers the TOA5 and TOB files
  private def loggerReaders(needle: String): Seq[String] =
    containing("src/main/scala/graft/sources", needle).filter { p =>
      val name = Paths.get(p).getFileName.toString
      name.startsWith("Toa5") || name.startsWith("Tob")
    }

  test("no source reader parses through from_csv or binaryFile") {
    assert(containing("src/main/scala/graft/sources", "from" + "_csv").isEmpty)
    assert(loggerReaders("\"binary" + "File\"").isEmpty)
    // the filter is not vacuous: it sees all four reader files
    assert(loggerReaders("package graft.sources")
      .map(Paths.get(_).getFileName.toString).sorted == Seq(
        "Toa5.scala", "Toa5DataSource.scala", "Tob.scala", "TobDataSource.scala"))
  }

  test("no file under src names the retired span-pruning option") {
    assert(containing("src", "span" + "Pruning").isEmpty)
  }
}
