package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One bucket-pair seam: every bucket self-join and hot-bucket cap
  * under `src/main` is written in `operators/BucketPairs.scala`. The
  * `tools/` smokes get no exemption: the hot-key smoke drives the caps
  * through the operators and compares pair counts with their known
  * values, with no reference self-join of its own. */
class BucketPairsSeamSpec extends AnyFunSuite {

  private val engineFiles = {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"$root not found")
    Files.walk(root).iterator().asScala.toList
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
  }

  private def name(p: java.nio.file.Path): String = p.getFileName.toString

  test("the filter sees the seam, its callers and the hot-key smoke") {
    val names = engineFiles.map(name).toSet
    assert(Set("BucketPairs.scala", "DedupOps.scala", "MediaDedup.scala",
      "Similarity.scala", "TextSmokes.scala").subsetOf(names))
  }

  test("self-joins and bucket-count caps live only in BucketPairs") {
    // a bucket cap is a row count over a partition-only window; the
    // running and global counts of MixOps and EtlQueries order or
    // frame their windows and are not bucket caps
    val needles = Seq(
      java.util.regex.Pattern.quote(""".as("a").join("""),
      """count\(lit\(1\)\)\.over\(\s*(?:[\w.]*\.)?Window\s*\.partitionBy\(""")
    needles.foreach { n =>
      val re = n.r
      val hits = engineFiles.filter(p =>
        re.findFirstIn(Files.readString(p)).isDefined).map(name).toSet
      // not vacuous: the seam itself matches every needle
      assert(hits == Set("BucketPairs.scala"), s"$n in $hits")
    }
  }

  test("no second cap mechanism is defined anywhere") {
    val main = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).map(Files.readString)
    assert(!main.exists(_.contains("def " + "capBuckets")))
  }
}
