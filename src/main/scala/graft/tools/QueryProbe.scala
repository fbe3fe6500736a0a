package graft.tools

/** Generic converged-floor probe — the q54 methodology (BENCH_NOTES
  * "Round 16: q54_merge_legality re-adjudicated", VERDICT r16 ask #1)
  * for ANY registry query: N warm in-JVM timings plus a Spark-job
  * tally per rep, so a drifted bench reading can be split into (a) steady-state plan cost vs (b)
  * first-touch/JIT noise, and a recomputed-aggregation chain (the
  * q54 defect class: job count far above the plan's natural action
  * count) is visible directly. Usage:
  * `runMain graft.tools.QueryProbe <sfDir> <reps> <query> [query…]`
  * — prints one JSON line per rep and a converged summary per query.
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(8)
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else Seq("q73_packed_blocks", "q61_l1_lifecycle")
    val queries = graft.SparkEntry.lookup(names)
    val b0 = graft.GraftSession.builder()
    // A/B knob: SPARK_GRAFT_COALESCE=<advisory bytes> turns on
    // size-respecting AQE partition coalescing (guide §2.2/§9)
    val spark = (sys.env.get("SPARK_GRAFT_COALESCE") match {
      case Some(adv) => b0
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
          "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", adv)
      case None => b0
    }).getOrCreate()
    val jobs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      })
    queries.foreach { q =>
      val (name, fn) = (q.name, q.run)
      val times = (1 to reps).map { i =>
        val j0 = jobs.get()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300)
        println(f"""{"probe":"$name%s","rep":$i,"sec":$sec%.3f,""" +
          s""""jobs":${jobs.get() - j0}}""")
        sec
      }
      println(f"""{"probe":"$name%s","min":${times.min}%.3f,""" +
        f""""median":${times.sorted.apply(reps / 2)}%.3f,""" +
        f""""converged_min":${times.drop(2).min}%.3f}""")
    }
    spark.stop()
  }
}
