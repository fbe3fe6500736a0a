package graft.tools

import graft.pipeline.Status.esc

/** Job-source census for one registry query: runs the query once
  * warm, then once in a `graft.obs.Meter` span, printing every Spark
  * job's call site (its result stage's name) and duration — so a high
  * job tally (the AQE-stage + checkpoint class) can be attributed to
  * SITES instead of guessed at. Usage:
  * `runMain graft.tools.JobSiteProbe <sfDir> <query> [warmReps]` */
object JobSiteProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val name = args.lift(1).getOrElse("q41_dedup_components")
    val warm = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = graft.GraftSession()
    val fn = graft.SparkEntry.lookup(Seq(name)).head.run
    (1 to warm).foreach(_ => fn(spark, sfDir).count())
    val (_, r) = graft.obs.Meter.on(spark).span(name)(fn(spark, sfDir).count())
    // call-site strings can carry quotes/backslashes: escaped only at
    // print time
    r.jobs.foreach { j =>
      println(s"""{"job":${j.id},"ms":${j.durationMs},"site":"${esc(j.name)}"}""")
    }
    val agg = r.jobs.groupBy(_.name).map { case (site, js) =>
      (site, js.size, js.map(_.durationMs).sum)
    }.toSeq.sortBy(-_._3)
    println(s"=== $name: ${r.jobs.size} jobs, ${f"${r.wallS}%.2f"} s ===")
    agg.foreach { case (site, n, ms) =>
      println(s"""{"site":"${esc(site)}","jobs":$n,"total_ms":$ms}""")
    }
    spark.stop()
  }
}
