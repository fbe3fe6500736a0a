package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One prefix-scan seam: ordered running sums go through
  * `operators/PrefixScan.scala`, and no operator grows its own
  * per-partition offset pass, working-name helper or range sizing
  * rule again. */
class PrefixScanSeamSpec extends AnyFunSuite {

  private def scalaFiles(root: String): Seq[java.nio.file.Path] = {
    val r = Paths.get(root)
    assert(Files.isDirectory(r), s"$r not found")
    Files.walk(r).iterator().asScala.toList
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
  }

  private val operatorFiles =
    scalaFiles("src/main/scala/graft/text") ++
      scalaFiles("src/main/scala/graft/operators")

  private def names(ps: Seq[java.nio.file.Path]): Set[String] =
    ps.map(_.getFileName.toString).toSet

  test("the filter sees the seam, its consumers and the keyless stitches") {
    assert(Set("PrefixScan.scala", "TimeSeriesOps.scala", "BudgetOps.scala",
      "PackOps.scala", "SampleOps.scala", "InterleaveOps.scala",
      "StatsOps.scala").subsetOf(names(operatorFiles)))
  }

  test("partition-indexed passes live only in PrefixScan and TimeSeriesOps") {
    // TimeSeriesOps' keyless islands, sessionize, gaps and histogram
    // boundary stitches are different scans and stay there
    Seq("TaskContext" + ".getPartitionId", "mapPartitions" + "WithIndex")
      .foreach { needle =>
        val hits = names(operatorFiles.filter(p =>
          Files.readString(p).contains(needle)))
        assert(hits.subsetOf(Set("PrefixScan.scala", "TimeSeriesOps.scala")),
          s"$needle in $hits")
      }
    // not vacuous: the needles do match where they are allowed
    assert(operatorFiles.exists(p => p.getFileName.toString ==
      "TimeSeriesOps.scala" && Files.readString(p).contains(
        "TaskContext" + ".getPartitionId")))
  }

  test("freshName and adaptiveRangeParts are each defined once") {
    val main = scalaFiles("src/main/scala").map(Files.readString)
    Seq("def " + "freshName(", "def " + "adaptiveRangeParts(").foreach { d =>
      val once = java.util.regex.Pattern.quote(d).r
      assert(main.map(once.findAllIn(_).size).sum == 1, d)
    }
  }
}
