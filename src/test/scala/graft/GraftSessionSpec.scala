package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The session seam: every session carries the SparkEntry contract
  * from construction, and no other file builds one. */
class GraftSessionSpec extends SparkSpec {

  test("a fresh GraftSession has the contract confs and extensions") {
    // a new session on the shared context starts from the confs set at
    // construction, untouched by any SparkEntry.t() call that pinned
    // them on the shared session
    val fresh = spark.newSession()
    assert(fresh.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(fresh.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(fresh.conf.get(
      "spark.sql.parquet.inferTimestampNTZ.enabled") == "false")
    assert(fresh.sql("SELECT fp2_decode(8205)").head().getDouble(0) == 1.3)
  }

  test("GraftSession.scala holds the only session builder in src") {
    val needle = "SparkSession" + ".builder"
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"$r not found"))
    val hits = roots.flatMap { r =>
      Files.walk(r).iterator().asScala.toList
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains(needle))
    }.map(_.getFileName.toString)
    assert(hits == Seq("GraftSession.scala"))
  }
}
