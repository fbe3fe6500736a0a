package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One materialization seam: every checkpoint, cache and storage
  * level under `src/main` is chosen in `operators/Materialize.scala`,
  * the `tools/` smoke harness's staging included. */
class MaterializeSeamSpec extends AnyFunSuite {

  private val engineFiles = {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"$root not found")
    Files.walk(root).iterator().asScala.toList
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
  }

  private def name(p: java.nio.file.Path): String = p.getFileName.toString

  test("the filter sees the seam, its callers and the smoke harness") {
    val names = engineFiles.map(name).toSet
    assert(Set("Materialize.scala", "DedupOps.scala", "TimeSeriesOps.scala",
      "PrefixScan.scala", "PqOps.scala", "SemDedup.scala",
      "Smokes.scala").subsetOf(names))
  }

  test("checkpoints, caches and storage levels live only in Materialize") {
    val needles = Seq("localCheckpoint(", ".persist(", ".cache()",
      "StorageLevel").map(java.util.regex.Pattern.quote) :+
      """(?<!Materialize)\.checkpoint\("""
    needles.foreach { n =>
      val re = n.r
      val hits = engineFiles.filter(p =>
        re.findFirstIn(Files.readString(p)).isDefined).map(name).toSet
      assert(hits.subsetOf(Set("Materialize.scala")), s"$n in $hits")
      // not vacuous: the seam itself matches every needle it uses
      if (n != java.util.regex.Pattern.quote(".cache()"))
        assert(hits == Set("Materialize.scala"), n)
    }
  }

  test("no private checkpoint helper is defined anywhere") {
    val main = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).map(Files.readString)
    assert(!main.exists(_.contains("def " + "ckptSer")))
  }
}
