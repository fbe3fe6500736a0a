package graft.tools

import graft.pipeline.Status.esc

/** Job-source census for one registry query: runs the query once
  * warm, then once counted, printing every Spark job's call site and
  * duration — so a high job tally (the AQE-stage + checkpoint class)
  * can be attributed to SITES instead of guessed at. Usage:
  * `runMain graft.tools.JobSiteProbe <sfDir> <query> [warmReps]` */
object JobSiteProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val name = args.lift(1).getOrElse("q41_dedup_components")
    val warm = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = graft.GraftSession()
    val fn = graft.SparkEntry.lookup(Seq(name)).head.run
    (1 to warm).foreach(_ => fn(spark, sfDir).count())
    // (site, ms) kept as TUPLES and escaped only at print time
    // (ADVICE r21): call-site strings can carry quotes/backslashes,
    // and the old string round-trip re-parsed its own hand-built
    // JSON with split().
    val rows =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long)]()
    val starts =
      new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          // stage names carry the action call site ("count at X:123");
          // the result stage (highest id) names the job's action
          val site = j.stageInfos.sortBy(_.stageId).lastOption
            .map(_.name).getOrElse("?")
          starts.put(j.jobId, (site, System.nanoTime()))
        }
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val (site, t0) = starts.getOrDefault(j.jobId, ("?", 0L))
          val ms = if (t0 == 0) -1 else (System.nanoTime() - t0) / 1000000
          rows.add((j.jobId, site, ms))
        }
      })
    val t0 = System.nanoTime()
    fn(spark, sfDir).count()
    val sec = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500)
    import scala.jdk.CollectionConverters._
    rows.asScala.toSeq.foreach { case (id, site, ms) =>
      println(s"""{"job":$id,"ms":$ms,"site":"${esc(site)}"}""")
    }
    // aggregate by site
    val agg = rows.asScala.toSeq
      .groupBy(_._2).map { case (k, v) =>
        (k, v.size, v.map(_._3).sum)
      }.toSeq.sortBy(-_._3)
    println(s"=== $name: ${rows.size} jobs, ${f"$sec%.2f"} s ===")
    agg.foreach { case (site, n, ms) =>
      println(s"""{"site":"${esc(site)}","jobs":$n,"total_ms":$ms}""")
    }
    spark.stop()
  }
}
