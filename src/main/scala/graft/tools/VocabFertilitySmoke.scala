package graft.tools

import org.apache.spark.sql.functions._

/** Factor smoke for the two round-17 operators:
  *
  *  1. `BpeOps.fertilityReport` (X74) at factor N over the sf
  *     `documents` table — wall seconds, exchange count, shuffle
  *     volume. Expectation: exchange count factor-invariant (one
  *     low-cardinality groupBy + learnBpe's two bounded aggregates),
  *     shuffle volume group-key-sized, wall dominated by the fused
  *     tokenize+merge-apply scan.
  *  2. `StreamingVocab` (X75) at factor N through three drains —
  *     per-drain wall, on-disk state-store footprint (the claim under
  *     test: state is k·|strata|-bounded, CONSTANT in corpus size —
  *     compare state_kb across factors), and close-out parity: the
  *     streamed exact-recount heavy hitters must equal the batch
  *     `VocabOps.heavyHitters` verbatim, and every final watermark
  *     must equal its stratum's exact token total.
  *
  * Usage: `runMain graft.tools.VocabFertilitySmoke [sfDir] [factor]`
  * (defaults `/root/testdata/sf0.1`, 100).
  */
object VocabFertilitySmoke {
  private def dirSize(p: java.nio.file.Path): Long = {
    import scala.jdk.CollectionConverters._
    if (!java.nio.file.Files.exists(p)) return 0L
    java.nio.file.Files.walk(p).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(f => java.nio.file.Files.size(f)).sum
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(100)
    val spark = graft.GraftSession()
    import graft.text.{BpeOps, TextOps, VocabOps}

    // TextScaleSmoke amplification: per-token copy markers keep texts
    // realistic while cross-copy tokens never collide
    val amplified = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang", "source", "text")
      .withColumn("copy", explode(sequence(lit(0), lit(factor - 1))))
      .select((col("doc_id") * factor + col("copy")).as("doc_id"),
        col("lang"), col("source"),
        expr("regexp_replace(regexp_replace(lower(text), " +
          "'[^a-z0-9]+', ' '), '([a-z0-9]+)', '$1q' || copy)")
          .as("text"))
      .localCheckpoint(true)
    val nDocs = amplified.count()

    // ---- 1. fertility report at factor N ----
    run("fertility", factor, nDocs) {
      val model = BpeOps.learnBpe(
        amplified.select(col("doc_id"), col("text")), "doc_id", "text",
        numMerges = 16, sampleRate = 0.05, maxWords = 500,
        salt = "fsmoke")
      val rep = BpeOps.fertilityReport(amplified, "text",
        Seq("source", "lang"), model)
      (rep.count(), graft.obs.Census.of(rep.queryExecution.executedPlan).exchanges)
    }

    // ---- 2. streaming vocab through three drains ----
    // UNMARKED amplification here: the fertility amplifier's per-token
    // copy markers split every token into `factor` variants, diluting
    // all of them below any heavy-hitter threshold — a trivially-empty
    // parity. Byte-identical copies preserve relative frequencies, so
    // the hitter set is the sf corpus's own (non-empty) and the
    // stream-vs-batch parity check actually compares content.
    val root = java.nio.file.Files
      .createTempDirectory("graft_vsmoke").toString
    val inDir = s"$root/in"; val outDir = s"$root/cand"
    val unmarked = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang", "text")
      .withColumn("copy", explode(sequence(lit(0), lit(factor - 1))))
      .select((col("doc_id") * factor + col("copy")).as("doc_id"),
        col("lang"), col("text"))
    val staged = unmarked.select(col("doc_id"), col("lang"),
      TextOps.tokens(col("text")).as("toks"))
    staged.filter(col("doc_id") % 3 === 0).write.parquet(inDir)
    val schema = spark.read.parquet(inDir).schema
    def drain(i: Int): Double = {
      val t0 = System.nanoTime()
      graft.streaming.StreamingVocab.summariesRun(spark, inDir, outDir,
        s"$root/ckpt", schema, "lang", "toks", k = 100)
      (System.nanoTime() - t0) / 1e9
    }
    val t1 = drain(1)
    staged.filter(col("doc_id") % 3 === 1).write.mode("append")
      .parquet(inDir)
    val t2 = drain(2)
    staged.filter(col("doc_id") % 3 === 2).write.mode("append")
      .parquet(inDir)
    val t3 = drain(3)
    val stateKb = dirSize(java.nio.file.Paths.get(root, "ckpt", "state")) >> 10

    // close-out + parity with the batch operator
    val snaps = spark.read.parquet(outDir)
    val finalSnap = snaps.join(broadcast(
        snaps.groupBy("stratum").agg(max("n_seen").as("n_seen"))),
      Seq("stratum", "n_seen"))
    val exact = staged
      .select(coalesce(col("lang"), lit("")).as("stratum"),
        explode(col("toks")).as("token"))
      .groupBy("stratum", "token").agg(count(lit(1)).as("n_tok"))
    // .distinct: tied-watermark snapshot re-emissions are identical
    // row sets (the q145 ADVICE fix, swept to every max-watermark
    // join site in r19) — without it a zero-token drain would read
    // as a false parity_diff
    val streamed = broadcast(finalSnap
        .select("stratum", "token", "n_seen").distinct())
      .join(exact, Seq("stratum", "token"))
      .filter(col("n_tok") * 100 > col("n_seen"))
      .select("stratum", "token", "n_tok", "n_seen")
    // batch truth per stratum via the batch operator
    val langs = unmarked.select(coalesce(col("lang"), lit(""))
      .as("l")).distinct().collect().map(_.getString(0)).sorted
    val batch = langs.map { l =>
      VocabOps.heavyHitters(
        unmarked.filter(coalesce(col("lang"), lit("")) === l),
        "text", 1L, 100L)
        .select(lit(l).as("stratum"), col("token"), col("n_tok"),
          col("n_total").as("n_seen"))
    }.reduce(_ unionAll _)
    val diff = streamed.exceptAll(batch).count() +
      batch.exceptAll(streamed).count()
    val wmOk = finalSnap.select("stratum", "n_seen").distinct()
      .join(exact.groupBy("stratum").agg(sum("n_tok").as("n")),
        "stratum")
      .filter(col("n_seen") =!= col("n")).count() == 0
    println(f"""{"smoke":"streaming_vocab","factor":$factor,""" +
      f""""docs":$nDocs,"drain1_sec":$t1%.1f,"drain2_sec":$t2%.1f,""" +
      f""""drain3_sec":$t3%.1f,"state_kb":$stateKb,""" +
      f""""parity_diff":$diff,"watermark_ok":$wmOk,""" +
      f""""hitters":${streamed.count()}}""")
    spark.stop()
  }

  private def run(tag: String, factor: Int, docs: Long)
      (body: => (Long, Int)): Unit = {
    val t0 = System.nanoTime()
    val (rows, ex) = body
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"smoke":"$tag%s","factor":$factor,"docs":$docs,""" +
      f""""sec":$sec%.1f,"rows":$rows,"exchanges":$ex}""")
  }
}
