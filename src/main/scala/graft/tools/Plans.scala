package graft.tools


/** Plan audit: prints formatted physical plans for representative
  * queries so scan pruning (PushedFilters/ReadSchema), join strategy
  * (BroadcastHashJoin), and WholeStageCodegen spans can be inspected.
  * Run: sbt 'runMain graft.tools.Plans /root/testdata/sf0.01 q02 q03'
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val which = if (args.length > 1) args.drop(1).toSet else Set.empty[String]
    val spark = graft.GraftSession()
    graft.SparkEntry.registry.foreach { q =>
      val (name, fn) = (q.name, q.run)
      if (which.isEmpty || which.exists(name.startsWith)) {
        println(s"\n========== $name ==========")
        try println(fn(spark, dir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        catch { case e: Throwable => println(s"(failed: ${e.getMessage})") }
      }
    }
    spark.stop()
  }
}
