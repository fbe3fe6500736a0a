package graft
import java.nio.file.{Files, Paths}
import graft.pipeline.Status.esc
/** Driver-run correctness dump: each registry query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local
    // iteration / robustness runs; the driver passes 2 args). An
    // unregistered name fails here, before any query runs.
    val queries = args.lift(2).fold(SparkEntry.registry)(only =>
      SparkEntry.lookup(only.split(",").toSeq.distinct).sortBy(_.name))
    // GraftSession sets the registry's session contract at
    // construction, and its shuffle-partition override (e.g. 200 to
    // mirror a real cluster default) drives partition-count
    // robustness runs.
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { q =>
      try q.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
        failures(q.name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    // JSON strings escape every control char: a tab or CR in an oracle
    // would otherwise make the driver's json.load fail and silently
    // zero the round's correctness.
    def str(s: String): String = "\"" + esc(s) + "\""
    val json = queries.map(q => s"${str(q.name)}: ${str(q.oracle)}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Explicit failure manifest: a query that throws produces no
    // parquet and would otherwise just VANISH from the downstream
    // compare (r10 silently lost 12 queries to a testdata schema
    // drift this way). Always written — empty means all ran.
    val errJson = failures
      .map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (failures.nonEmpty)
      System.err.println(
        s"[verify] ${failures.size} queries FAILED: ${failures.keys.mkString(", ")}")
    spark.stop()
  }
}
