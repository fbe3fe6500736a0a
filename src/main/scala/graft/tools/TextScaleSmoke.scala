package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale smoke for the round-11 perf-fixed text operators:
  * `winnowFingerprints` (fused kernel), `LmOps.perplexity`, and
  * `DsirOps.dsirSelect` at factor 1 vs factor N amplification of the
  * sf0.1 `documents` table — the same protocol as [[ScaleSmoke]]
  * (fused `q<copy>` token markers so copies never collide), recording
  * wall seconds, rows, physical-plan Exchange counts, and shuffle
  * volumes. The assertions that matter: exchange counts are
  * FACTOR-INVARIANT (the plan shape doesn't degrade off the test SF)
  * and per-doc output rows scale linearly (perplexity and dsirSelect
  * emit exactly one row per corpus doc by contract; winnowing rows
  * scale ~linearly — copy markers shift k-gram counts by a few chars
  * per token, so the ratio is reported, not asserted exact).
  *
  * Usage: `runMain graft.tools.TextScaleSmoke [sfDir] [factor]`
  * (defaults `/root/testdata/sf0.1`, 100).
  */
object TextScaleSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(100)
    val spark = graft.GraftSession()
    val meter = graft.obs.Meter.on(spark)

    def amplified(f: Int): DataFrame =
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text")
        .withColumn("copy", explode(sequence(lit(0), lit(f - 1))))
        .select((col("doc_id") * f + col("copy")).as("doc_id"),
          expr("regexp_replace(regexp_replace(lower(text), " +
            "'[^a-z0-9]+', ' '), '([a-z0-9]+)', '$1q' || copy)")
            .as("text"))

    case class Reading(phase: String, f: Int, sec: Double, rows: Long,
        exch: Int)
    val readings = scala.collection.mutable.ArrayBuffer.empty[Reading]

    // Optional phase filter (comma-separated prefixes) so deep
    // factors can target the cheap phases — e.g.
    // SPARK_GRAFT_PHASES=budgetMix,c4,chunk,bpe for a factor-1000
    // run that skips the minute-scale chains.
    val only: Set[String] = sys.env.get("SPARK_GRAFT_PHASES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

    def timed(phase: String, f: Int)(mk: => DataFrame)
        : Option[graft.obs.Reading] = {
      if (only.nonEmpty && !only.exists(phase.startsWith)) return None
      val ((df, n), r) = meter.span(phase) {
        val df = mk
        (df, df.count())
      }
      val exch = graft.obs.Census.of(df.queryExecution.executedPlan).exchanges
      readings += Reading(phase, f, r.wallS, n, exch)
      println(f"""{"phase":"$phase","factor":$f,"sec":${r.wallS}%.1f,""" +
        f""""rows":$n,"exchanges":$exch,""" +
        f""""shuf_write_mb":${r.shuffleWriteBytes >> 20},""" +
        f""""shuf_read_mb":${r.shuffleReadBytes >> 20},""" +
        f""""cpu_sec":${r.cpuS}%.1f,"gc_sec":${r.gcS}%.1f}""")
      Some(r)
    }

    Seq(1, factor).foreach { f =>
      // repartition BEFORE the checkpoint: the sf0.1 parquet is one
      // ~MB file = one input split, and the explode amplification is
      // narrow, so without this every pre-shuffle operator stage runs
      // single-core — a small-file artifact of the synthesis, not a
      // property of the operators (real corpora arrive in thousands
      // of splits). First run of this harness measured dsirSelect at
      // 43.9 s/factor 10 for exactly this reason.
      val docs = amplified(f)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager = true,
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      timed("winnowFingerprints", f) {
        graft.text.DedupOps.winnowFingerprints(docs, "doc_id", "text")
      }
      // the amplification suffixes every token with its copy id, so
      // the vocabulary grows ×f while each token's share shrinks ×f:
      // φ = 1/5000 keeps the full (suffixed) common set at both
      // factors and drives the MG summary at a production-sized
      // counter budget (k = 5000 per partition)
      timed("heavyHitters", f) {
        graft.text.VocabOps.heavyHitters(docs, "text", 1L, 5000L)
      }
      // BFD packing: 16 shards over f·5k docs (f100: ~31k docs and
      // ~18k open bins per shard by the end — the TreeMap best-fit's
      // O(log B) per doc is what makes the shard loop viable)
      timed("bestFitPack", f) {
        graft.text.PackOps.bestFitPack(
          docs.select(col("doc_id"),
            graft.text.TextOps.tokenCount(col("text")).cast("long")
              .as("n_tok")),
          "doc_id", "n_tok", capacity = 96L, numShards = 16)
      }
      timed("lmPerplexity", f) {
        graft.text.LmOps.perplexity(
          docs, docs.filter(pmod(col("doc_id"), lit(10)) < 3),
          "doc_id", "text")
      }
      timed("dsirSelect", f) {
        graft.text.DsirOps.dsirSelect(
          docs, docs.filter(pmod(col("doc_id"), lit(10)) < 3),
          k = 100, idCol = "doc_id", textCol = "text", buckets = 1024)
      }
      // Round-12 additions. budgetSelect returns an eagerly
      // checkpointed frame (its contract), so the result plan shows
      // 0 exchanges — the one range exchange it costs appears in the
      // shuffle MB columns instead. Scoring is staged once (the q98
      // shape) and the budget derives from pass-1 totals — the first
      // smoke draft paid a separate agg pass plus ~4x re-tokenization
      // (111.9 s at f100; this form measures the operator's real
      // single-evaluation cost).
      timed("budgetSelect", f) {
        val tk = docs.select(col("doc_id"),
          graft.text.TextOps.tokens(col("text")).as("__tk"))
        val sw = array(
          graft.text.TextOps.EnglishStopwords.map(lit): _*)
        val scored = tk.select(col("doc_id"),
          size(col("__tk")).cast("long").as("n_tok"),
          when(size(col("__tk")) > 0,
            size(filter(col("__tk"), x => array_contains(sw, x)))
              .cast("double") / size(col("__tk")))
            .otherwise(lit(0.0)).as("pri"))
        graft.text.BudgetOps.budgetSelectFraction(
          scored, "doc_id", "n_tok", "pri", 1L, 2L)
      }
      timed("budgetMix", f) {
        val scored = docs.select(col("doc_id"),
          concat(lit("src"), (col("doc_id") % 16).cast("string"))
            .as("src"),
          length(col("text")).cast("long").as("n_tok"),
          (col("doc_id") % 7).cast("double").as("pri"))
        graft.text.BudgetOps.budgetSelectPerStratumFraction(
          scored, "doc_id", "n_tok", "pri", "src", 1L, 2L)
      }
      // force the cleaned text + verdict to actually compute — a bare
      // count() lets Catalyst prune every C4 expression away
      timed("c4Filter", f) {
        graft.text.C4Ops.c4Filter(docs, "doc_id", "text")
          .filter(md5(col("text_out")).isNotNull &&
            col("n_sentences") >= 0 && !col("has_bad_word"))
      }
      timed("fuzzyDedupBest", f) {
        graft.text.DedupOps.fuzzyDedupDocsBest(docs, "doc_id", "text",
          graft.text.TextOps.tokenCount(col("text")).cast("long"))
      }.foreach { r =>
        // connectedComponents counts with one `runJob at DedupOps.scala`
        // job for its edges, then one per label-propagation round
        val counts = r.jobs.count(_.name.startsWith("runJob at DedupOps.scala"))
        val path = if (counts == 1) "union-find" else s"rounds:${counts - 1}"
        println(s"""{"phase":"fuzzyDedupBest","factor":$f,""" +
          s""""cc_path":"$path","jobs":${r.jobs.size}}""")
      }
      // md5 over chunk_text forces the slices to materialize
      timed("chunkDocs", f) {
        graft.text.ChunkOps.chunkDocs(docs, "doc_id", "text", 64, 48)
          .filter(md5(col("chunk_text")).isNotNull)
      }
      // count() over the bare verdict frame ELIMINATES the left join
      // (unique right key + only-left columns -> Catalyst join
      // elimination; first run of this phase "measured" 2.6 task-s
      // at f100). Filtering ON the flag forces both band tables and
      // the semi join; rows = flagged count.
      timed("nearDupAgainst", f) {
        graft.text.DedupOps.nearDupAgainst(
            docs.filter(col("doc_id") % 2 === 1),
            docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
          .filter(col("dup_against_ref"))
      }
      // end-to-end: sample-learn (driver, parameter-bounded) + fused
      // kernel application; the size filter forces the kernel
      timed("bpeTrainApply", f) {
        val model = graft.text.BpeOps.learnBpe(docs, "doc_id", "text",
          numMerges = 100, sampleRate = 0.05, maxWords = 2000)
        graft.text.BpeOps.applyBpe(docs, "text", model)
          .select(col("doc_id"), col("n_subwords"))
          .filter(col("n_subwords") >= 0)
      }
      // Round-15 addition: the heaviest memory shape in the text
      // family (two range exchanges + two persists + an eager
      // serialized checkpoint, full text payload carried through).
      // 16 strata with coprime-ish weights 1..16 drive the lcm
      // resolution high enough to exercise the post-rank overflow
      // cap; interleave returns an eagerly checkpointed frame
      // (BudgetOps retention contract) so the result plan shows 0
      // exchanges — the two range shuffles appear in the shuffle MB
      // columns. Rows must equal the input corpus exactly (every
      // stratum has a weight).
      timed("interleave", f) {
        val strat = docs.select(col("doc_id"), col("text"),
          concat(lit("src"), (col("doc_id") % 16).cast("string"))
            .as("src"))
        graft.text.InterleaveOps.proportionalInterleave(
          strat, "src", "doc_id",
          (0 until 16).map(i => s"src$i" -> (i + 1L)).toMap)
      }
      // Round-15 substrate ops: group split (group table = 1k
      // synthetic domains), exact-count stratified sample, and exact
      // quantiles — each returns an eagerly checkpointed frame (0
      // result-plan exchanges; the range shuffles show as MB).
      timed("groupSplit", f) {
        val strat = docs.select(col("doc_id"), col("text"),
          concat(lit("d"), (col("doc_id") % 1000).cast("string"))
            .as("dom"))
        graft.text.SampleOps.groupSplit(strat, "dom",
          Seq(("train", 4L, 5L), ("val", 1L, 10L), ("test", 1L, 10L)),
          "gs")
      }
      timed("stratSampleExact", f) {
        val strat = docs.select(col("doc_id"), col("text"),
          concat(lit("src"), (col("doc_id") % 16).cast("string"))
            .as("src"))
        graft.text.SampleOps.stratifiedSampleExact(strat, "doc_id",
          "src", Map.empty, 1L, 3L, "sx")
      }
      timed("exactQuantiles", f) {
        graft.operators.StatsOps.exactQuantiles(
          docs.select(col("doc_id"),
            length(col("text")).cast("long").as("n_chars")),
          "n_chars", "doc_id",
          Seq((1L, 4L), (1L, 2L), (3L, 4L), (99L, 100L)))
      }
      spark.catalog.clearCache()
    }

    readings.groupBy(_.phase).foreach { case (phase, rs) =>
      val byF = rs.map(r => r.f -> r).toMap
      val b = byF(1); val big = byF(factor)
      println(f"""{"summary":"$phase","exchanges_base":${b.exch},""" +
        f""""exchanges_scaled":${big.exch},""" +
        f""""exch_invariant":${b.exch == big.exch},""" +
        f""""row_ratio":${big.rows.toDouble / b.rows}%.3f,""" +
        f""""sec_base":${b.sec}%.1f,"sec_scaled":${big.sec}%.1f,""" +
        f""""factor":$factor}""")
    }
    spark.stop()
  }
}
