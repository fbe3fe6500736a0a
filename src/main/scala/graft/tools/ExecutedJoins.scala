package graft.tools


/** Runtime join-strategy audit over the WHOLE oracle surface: runs
  * every registry query to completion in a `graft.obs.Meter` span
  * (building it, then writing every row and column to the `noop`
  * sink, so no join is pruned away as under `count()`) and prints the
  * join strategy counts of every execution that span ran, each read
  * from its final (post-AQE) plan — static plan dumps ([[Plans]])
  * cannot see runtime broadcast conversions, and
  * the round-13 factor-1000 failures came exactly from
  * estimate-driven BroadcastHashJoins the static audit had passed.
  *
  * Reading the output: `bhj>0` is only acceptable when the broadcast
  * side is genuinely bounded — a TPC-H dimension (region/nation/
  * supplier), a parameter-sized model/centroid/λ/rate table, or an
  * explicit `broadcast()` the operator's scaladoc justifies. A bhj
  * whose build side derives from a corpus-scale table is a scale
  * defect: fix it in the operator (pin merge/shuffle_hash), never by
  * editing this audit.
  *
  * Usage: `runMain graft.tools.ExecutedJoins [sfDir] [namePrefix...]`
  */
object ExecutedJoins {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val which = if (args.length > 1) args.drop(1).toSet else Set.empty[String]
    val spark = graft.GraftSession()
    val meter = graft.obs.Meter.on(spark)
    var flagged = 0
    graft.SparkEntry.registry.foreach { q =>
      val (name, fn) = (q.name, q.run)
      if (which.isEmpty || which.exists(name.startsWith)) {
        try {
          val (_, r) = meter.span(name) {
            fn(spark, dir).write.format("noop").mode("overwrite").save()
          }
          val census = r.census
          if (census.joins.contains("bhj") || census.joins.contains("bnlj"))
            flagged += 1
          println(s"""{"query":"$name","joins":"${census.joinLine}"}""")
        } catch { case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          println(s"""{"query":"$name","error":"${msg
            .takeWhile(_ != '\n').take(120)}"}""")
        }
      }
    }
    println(s"""{"audit":"executed-joins","broadcast_queries":$flagged}""")
    spark.stop()
  }
}
