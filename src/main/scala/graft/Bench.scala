package graft

object Bench {

  /** Machine-load sentinel: wall-time of a fixed CPU-bound loop. Run
    * before and after the timed section; if the two drift by more than
    * 10% the host was unevenly loaded and the totals are suspect —
    * the run is flagged (`"loaded":true`), not failed. */
  private def sentinelOnce(): Double = {
    val t0 = System.nanoTime()
    var x = 0L; var i = 0
    while (i < 1000000000) { x += i * 2654435761L; i += 1 }
    if (x == 42L) print("") // keep the loop observable (defeat DCE)
    (System.nanoTime() - t0) / 1e9
  }

  /** Min of three reps: the minimum is the unloaded-machine floor, so
    * scheduler jitter within a rep doesn't read as load drift. */
  private def sentinelSec(): Double =
    (1 to 3).map(_ => sentinelOnce()).min

  /** Parallel contention probe: the sentinel workload split 1/8-size
    * across every core simultaneously. The single-core sentinel is
    * blind to parallel/IO contention (a box can time an idle core
    * while 31 others fight a co-tenant — the round-7/8 adjudication
    * problem); this probe inflates under exactly that load, so two
    * bench runs are comparable only when BOTH sentinel and par probe
    * agree. */
  private def parProbeOnce(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { _ =>
      new Thread(() => {
        var x = 0L; var i = 0
        while (i < 500000000) { x += i * 2654435761L; i += 1 }
        if (x == 42L) print("")
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Min of five ~0.2 s reps. The rep must dwarf its own setup: at a
    * ~50 ms rep, starting `threads` OS threads is several ms — enough
    * for a clean run's before/after pair to read >10% apart and
    * false-flag `loaded` (observed: 0.065 vs 0.053 on an idle box).
    * 4x the loop + 5 reps puts setup under ~2% of the reading. */
  private def parProbeSec(threads: Int): Double =
    (1 to 5).map(_ => parProbeOnce(threads)).min

  /** Parallel buffered-IO probe: 8 threads each stream the given file
    * end to end; reports aggregate MB/s (max of 3 reps — the unloaded
    * ceiling). After the first rep this measures page-cache/memory
    * bandwidth under parallelism — the resource a 32-thread Spark
    * scan contends on. */
  private def ioProbeMbs(path: String): Double = {
    val f = new java.io.File(path)
    if (!f.isFile) return 0.0
    val bytes = f.length()
    val reps = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val ts = (1 to 8).map { _ =>
        new Thread(() => {
          val in = new java.io.FileInputStream(f)
          val buf = new Array[Byte](1 << 20)
          try { while (in.read(buf) >= 0) () } finally in.close()
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      val sec = (System.nanoTime() - t0) / 1e9
      bytes * 8 / 1e6 / sec
    }
    reps.max
  }

  /** CPU model from /proc/cpuinfo (sanitized for JSON embedding). */
  private def cpuModel(): String = {
    val m = try {
      scala.io.Source.fromFile("/proc/cpuinfo").getLines()
        .collectFirst { case l if l.startsWith("model name") =>
          l.dropWhile(_ != ':').drop(1).trim }
        .getOrElse(sys.props.getOrElse("os.arch", "unknown"))
    } catch { case _: Throwable => sys.props.getOrElse("os.arch", "unknown") }
    m.replaceAll("[^A-Za-z0-9 ()@./_-]", " ")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val spark = GraftSession()
    // Warm up JVM/codegen/parquet reader so the first timed query
    // doesn't absorb one-time startup cost.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(10).collect()
    // Warm the JDK media service registries: the first ImageIO /
    // AudioSystem touch of a JVM pays a one-time provider scan that
    // otherwise lands inside the first timed q76/q78 run (r10 saw an
    // unexplained 6.5x q76 swing on untouched code). local-mode
    // executors share this JVM, so one decode warms them all.
    try {
      val img = new java.awt.image.BufferedImage(4, 4,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bos.toByteArray))
      javax.sound.sampled.AudioSystem.getAudioFileTypes()
    } catch { case _: Throwable => () }
    sentinelSec() // JIT-warm the sentinel loop itself
    val nCores = Runtime.getRuntime.availableProcessors()
    parProbeSec(nCores) // JIT-warm the parallel probe
    val sentinelBefore = sentinelSec()
    val parBefore = parProbeSec(nCores)
    val ioMbs = ioProbeMbs(s"$sfDir/lineitem.parquet")
    // `runs` timed executions per query, report the min: the first run
    // pays one-time plan codegen + JIT for that query's generated
    // classes (±40% noise run-to-run); the min is the steady-state
    // per-query cost a warm cluster pays. min/median/max are all
    // emitted so a reader can tell noise from regression.
    // A rep that throws is recorded by NAME in `failedQueries` and
    // surfaced in the JSON line (ADVICE r17) — its wall-time still
    // enters the sample so totals stay schema-stable, but no reader
    // can mistake a crash-time for a measurement.
    val failedQueries = scala.collection.mutable.LinkedHashSet[String]()
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => SparkEntry.benchExclude(name) }
      .map { case (name, fn) =>
        val times = (1 to runs).map { _ =>
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).count() }
          catch { case _: Throwable => failedQueries += name; -1L }
          (System.nanoTime() - t0) / 1e9
        }.sorted
        name -> times
      }
    // Opt-in converged-floor mode (VERDICT r16 ask #3 — the q54
    // lesson institutionalized): job-heavy sub-second queries stay
    // JIT-cold across a 3-run min (each run launches tens of tiny
    // Spark jobs whose generated classes never converge), so
    // cross-round deltas on them read as regressions when they are
    // warm-up accidents. SPARK_GRAFT_CONVERGED="q54_x,q61_y" (or
    // "default" for the adjudicated class) runs N extra warm reps
    // per listed query AFTER its bench reps and reports the
    // converged min (min of the post-warm-up tail) alongside the
    // 3-run min in the detail line. Not part of `total` — totals
    // stay comparable across rounds.
    // The adjudicated job-heavy class is pinned HERE (VERDICT r17 ask
    // #7) so every round's artifact carries its converged floors
    // without a bespoke probe session; the env var still widens the
    // set ("qX,qY"), and "none"/"off" disables it for quick runs.
    // r19 (VERDICT r18 ask #3): converged floors are the PRIMARY
    // round-over-round record for every query whose 3-run min reads
    // >= 0.5 s — two sentinel-clean r18 runs of the same tree spread
    // a uniform ~1.2x (70.7 vs 84.7 s) while the pinned floors
    // corroborated each other, so the 3-run-min total cannot
    // adjudicate sub-1.25x moves but the floors can. The >= 0.5 s
    // class is derived from THIS run's own timings (self-
    // maintaining as queries speed up or land); the historically
    // pinned job-heavy class stays listed explicitly so its floors
    // survive even if a clean run dips below the threshold.
    val convergedPinned = Seq("q54_merge_legality", "q57_merge_units",
      "q61_l1_lifecycle", "q73_packed_blocks",
      "q148_bloom_contamination",
      // r18: the checkpoint/CC-loop class — their 3-run mins read
      // 0.5-1.1 s above the probe floors (q87 3.44 vs 2.30, q94 3.09
      // vs 2.55, q113 6.71 vs 5.04-6.03 across sessions), so the
      // artifact carries the floors round-over-round comparisons
      // should use.
      "q87_semdedup", "q94_fuzzy_dedup", "q113_semdedup_pq")
    val convergedDefault = (convergedPinned ++
      results.collect { case (name, times) if times.min >= 0.5 => name })
      .distinct
    val convergedSet: Seq[String] =
      (sys.env.get("SPARK_GRAFT_CONVERGED") match {
        case None | Some("default") | Some("1") => convergedDefault
        case Some("none") | Some("off") | Some("0") => Seq.empty
        case Some(v) => v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      }).filter(SparkEntry.queries.contains)
    val convergedReps =
      sys.env.getOrElse("SPARK_GRAFT_CONVERGED_REPS", "6").toInt
    val converged = convergedSet.map { name =>
      val fn = SparkEntry.queries(name)
      // Failure-aware (ADVICE r17): a throwing rep must NOT leave its
      // wall-time in the sample — a query that dies in 50 ms would
      // otherwise report a bogus tiny "converged" floor. Failed reps
      // are excluded; all-reps-failed reports the explicit -1 marker.
      val reps = (1 to convergedReps).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case _: Throwable => false }
        (ok, (System.nanoTime() - t0) / 1e9)
      }
      // drop the first two reps (plan codegen + JIT ramp), min the rest
      val tail = reps.drop(math.min(2, reps.length - 1)).filter(_._1)
      // Floor at the query's own 3-run min from the timed block
      // (VERDICT r21 #2): the converged reps run LAST, in a JVM that
      // has executed the whole 164-query bench — heap/JIT pressure
      // there can read far above the query's earlier clean walls
      // (r21: q03 "floor" 4.76 vs 0.99 same-run), and a floor
      // exceeding an observed wall of the same run is definitionally
      // stale. A floor estimate is min over ALL same-run observations.
      // (failure-aware: a query that threw in the timed block has
      // crash-walls in its sample — don't floor on those)
      val runMin =
        if (failedQueries.contains(name)) None
        else results.collectFirst {
          case (n, times) if n == name => times.min }
      name -> (if (tail.isEmpty) -1.0
               else runMin.fold(tail.map(_._2).min)(
                 m => math.min(tail.map(_._2).min, m)))
    }
    val sentinelAfter = sentinelSec()
    val parAfter = parProbeSec(nCores)
    val drift = math.abs(sentinelAfter - sentinelBefore) /
      math.min(sentinelBefore, sentinelAfter) * 100.0
    val parDrift = math.abs(parAfter - parBefore) /
      math.min(parBefore, parAfter) * 100.0
    val loaded = drift > 10.0 || parDrift > 10.0
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v.min }
      .mkString("{", ",", "}")
    val spread = results.map { case (k, v) =>
      val med = v(v.length / 2)
      s"\"" + k + s"\":[${v.min},$med,${v.max}]"
    }.mkString("{", ",", "}")
    val total = results.map(_._2.min).sum
    val sent = f"""{"before":$sentinelBefore%.3f,"after":$sentinelAfter%.3f,""" +
      f""""drift_pct":$drift%.1f,"loaded":$loaded}"""
    // Machine fingerprint: two runs' totals are comparable ONLY when
    // cpu/cores match and par_probe/io_mb_s are within ~10% — the
    // cross-session adjudication rule BENCH_NOTES documents. par_*
    // self-identifies parallel load the single-core sentinel misses.
    // io_era makes the box's observed bimodal IO throughput (r15's
    // ~9.6 vs ~19 GB/s page-cache eras, which moved the scan-heavy
    // tail ~1.1-1.5x with zero code change) a MECHANICAL field: two
    // runs are IO-comparable only when eras match. The 15 GB/s
    // threshold splits the two observed clusters.
    val ioEra = if (ioMbs >= 15000) "fast" else "slow"
    val machine = f"""{"cpu":"${cpuModel()}","cores":$nCores,""" +
      f""""par_before":$parBefore%.3f,"par_after":$parAfter%.3f,""" +
      f""""par_drift_pct":$parDrift%.1f,"io_mb_s":$ioMbs%.0f,""" +
      s""""io_era":"$ioEra"}"""
    // Every run appends one line to the committed IO-history ledger,
    // so tail-drift adjudications (the q54/q87 class) read a trend,
    // not two points.
    try {
      val hist = f"""{"ts_ms":${System.currentTimeMillis()},""" +
        f""""sf":"$sfDir","io_mb_s":$ioMbs%.0f,"io_era":"$ioEra",""" +
        f""""par":$parBefore%.3f,"sentinel":$sentinelBefore%.3f}""" + "\n"
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(sys.env.getOrElse(
          "SPARK_GRAFT_IOHIST", "/root/repo/BENCH_IOHIST.jsonl")),
        hist, java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case _: Throwable => () }
    val convJson =
      if (converged.isEmpty) ""
      else converged.map { case (k, v) => f""""$k%s":$v%.3f""" }
        .mkString(""","converged":{""", ",", "}")
    val failJson =
      if (failedQueries.isEmpty) ""
      else failedQueries.map("\"" + _ + "\"")
        .mkString(""","failed":[""", ",", "]")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","runs":$runs,"spread":$spread,"sentinel":$sent,"machine":$machine$convJson$failJson}"""
    println(line)
    // The driver keeps only a truncated stdout tail, so cross-round
    // per-query diffs see a fraction of the timed set. Persist the
    // COMPLETE line (all per-query [min,median,max]) to a repo file
    // so regression adjudication never depends on tail truncation.
    // Overwritten per run; committed snapshots are the round record.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_BENCH_DETAIL", "/root/repo/BENCH_DETAIL.json")),
      line + "\n")
    catch { case _: Throwable => () }
    spark.stop()
    // The harness that captures this output keeps only a truncated tail
    // of stdout, so the full line above is often cut mid-JSON. Emit a
    // compact summary LAST so the tail always contains one complete,
    // parseable line (total + load flag + fingerprint only).
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","loaded":$loaded,"machine":$machine}""")
  }
}
