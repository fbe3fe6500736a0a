package graft.tools


/** Runtime join-strategy audit over the WHOLE oracle surface: runs
  * every `SparkEntry.queries` entry to completion and prints the
  * EXECUTED (post-AQE) join strategy counts per query — static plan
  * dumps ([[Plans]]) cannot see runtime broadcast conversions, and
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
    val kinds = Seq("BroadcastHashJoin" -> "bhj", "SortMergeJoin" -> "smj",
      "ShuffledHashJoin" -> "shj", "BroadcastNestedLoopJoin" -> "bnlj",
      "CartesianProduct" -> "cart")
    var flagged = 0
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (which.isEmpty || which.exists(name.startsWith)) {
        try {
          val df = fn(spark, dir)
          df.count() // execute so AQE finalizes every stage's strategy
          val s = df.queryExecution.executedPlan.toString
          val counts = kinds.map { case (k, a) =>
            a -> k.r.findAllIn(s).length }
          val line = counts.map { case (a, n) => s"$a=$n" }.mkString(",")
          val hasB = counts.toMap.getOrElse("bhj", 0) > 0 ||
            counts.toMap.getOrElse("bnlj", 0) > 0
          if (hasB) flagged += 1
          println(s"""{"query":"$name","joins":"$line"}""")
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
