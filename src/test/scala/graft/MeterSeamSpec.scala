package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One run instrument: run counters and plan censuses come from
  * `graft.obs.Meter`, and no other file registers a listener or drains
  * the listener bus. */
class MeterSeamSpec extends AnyFunSuite {

  private val files: List[Path] =
    List("src/main/scala", "src/test/scala").map(Paths.get(_)).flatMap { root =>
      assert(Files.isDirectory(root), s"$root not found")
      Files.walk(root).iterator().asScala.toList
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
    }.filterNot(_.getFileName.toString == "MeterSeamSpec.scala")

  private def hits(needle: String): Set[String] =
    files.filter(p => Files.readString(p).contains(needle))
      .map(_.getFileName.toString).toSet

  test("the filter sees the seam, the tools and the specs") {
    val names = files.map(_.toString.replace('\\', '/'))
    Seq("graft/tools/HotKeyCapSmoke.scala", "graft/FastDataSpec.scala",
      "graft/obs/Meter.scala").foreach(n =>
      assert(names.exists(_.endsWith(n)), n))
  }

  test("listeners and the bus drain live only in graft/obs and its bridge") {
    val seam = Set("Meter.scala", "MeterBridge.scala")
    Seq("addSparkListener", "new SparkListener", "extends SparkListener",
      "QueryExecutionListener", "listenerManager.register", "waitUntilEmpty")
      .foreach(n => assert(hits(n).subsetOf(seam), s"$n in ${hits(n)}"))
    // not vacuous: the seam itself matches the needles it uses
    assert(hits("addSparkListener") == Set("Meter.scala"))
    assert(hits("waitUntilEmpty") == Set("MeterBridge.scala"))
  }

  test("no plan-string exchange regex and no StageMetrics remain") {
    // MeterSpec keeps the old regex as the reference its census test
    // shows double-counting a final plan
    assert(hits("\"(?i)exchange\"") == Set("MeterSpec.scala"))
    assert(hits("class StageMetrics").isEmpty)
  }
}
