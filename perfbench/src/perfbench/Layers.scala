package perfbench

/** The per-layer metric catalogue. Span names are `<module>.<call>`,
  * after the engine package each span wraps. Every traced run reports
  * every metric, 0 for spans its workload never opens, so one list
  * serves all workloads (`BENCHMARK.json` lists the same names). */
object Layers {
  val spans: Seq[String] = Seq(
    // network_nightly
    "sources.toa5_read", "pipeline.condition",
    "pipeline.merge_convert_mask", "pipeline.write_lake",
    "operators.missing_stats", "operators.variable_status",
    "pipeline.status_write", "pipeline.task_registry",
    // network_nightly, the fast site task
    "sources.tob_read", "pipeline.fast_windows", "pipeline.fast_shards",
    // corpus_dedup
    "text.c4_clean", "text.gopher_quality", "text.exact_dedup",
    "text.near_dedup", "sim.semdedup", "text.mix", "text.pack")

  private val base = Seq("self_s" -> "s", "jobs" -> "count",
    "cpu_s" -> "s", "shuffle_mb" -> "MB", "plan_ms" -> "ms",
    "driver_s" -> "s")

  /** Spans that shuffle: they also report their exchange census. */
  val exchangeSpans: Set[String] = Set("pipeline.condition",
    "pipeline.write_lake", "pipeline.fast_shards", "text.exact_dedup",
    "text.near_dedup", "sim.semdedup", "text.mix", "text.pack")
  val spillSpans: Set[String] = Set("pipeline.fast_shards",
    "text.near_dedup", "sim.semdedup", "text.pack")
  val ckptSpans: Set[String] = Set("text.near_dedup", "sim.semdedup")

  val SiteTask = "pipeline.task_registry"

  /** (metric name, unit) in report order. */
  val metrics: Seq[(String, String)] =
    spans.flatMap { s =>
      base.map { case (m, u) => s"$s.$m" -> u } ++
        (if (exchangeSpans(s)) Seq(s"$s.exchanges" -> "count") else Nil) ++
        (if (spillSpans(s)) Seq(s"$s.spill_mb" -> "MB") else Nil) ++
        (if (ckptSpans(s)) Seq(s"$s.ckpt_mb" -> "MB") else Nil)
    } ++ Seq(s"$SiteTask.site_p50_s" -> "s", s"$SiteTask.site_tail_s" -> "s",
      "executor.gc_s" -> "s", "trace.overhead_pct" -> "%")
}
