package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-command scale smoke for the packing/dedup chain: amplify the
  * sf0.1 `documents` table by an integer factor and run
  * `packBlocks` + `ngramJaccardPairs` + `connectedComponents` at both
  * factor 1 and factor N, recording per-phase wall time, shuffle
  * read/write bytes, result partition counts, peak persisted storage,
  * and the physical-plan Exchange count — the evidence that the
  * operators' plan SHAPE is scale-invariant (same exchanges at N× the
  * data) and that no hidden driver bottleneck appears off the test SF.
  *
  * Amplification keeps the near-dup structure of the base corpus
  * without manufacturing a pathological one: the text is normalized
  * (the tokenizer's own alphabet) and every token is suffixed with
  * `q<copy>` — fused INTO the token, so the suffix survives
  * tokenization and shingles never collide ACROSS copies. Pair and
  * component counts then scale exactly linearly in the factor
  * (reported), and posting-list lengths stay at their base-corpus
  * values rather than multiplying into a quadratic blow-up that no
  * real corpus has. (A space-adjacent marker is NOT enough: anything
  * the normalizer maps to a separator becomes its own token between
  * every pair of words, and a shared single word then yields a shared
  * shingle — the first draft of this harness produced a 4700× pair
  * explosion at factor 10 exactly that way.) Factor 1 runs the SAME
  * synthesis with copy=0, so the two corpora are isomorphic.
  *
  * Usage: `runMain graft.tools.ScaleSmoke [sfDir] [factor]`
  * (defaults `/root/testdata/sf0.1`, 100). Emits one JSON line per
  * (phase, factor) plus a summary comparing Exchange counts.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(100)
    val spark = graft.GraftSession.builder()
      // Diagnostic headroom, NOT a fix: the 1 GB default exists to
      // catch accidental driver-side collection, and a factor-1000
      // run tripped it inside the ngram chain. Raising it here lets
      // the run complete so the per-phase `joins` line below shows
      // WHICH strategy shipped data to the driver — a
      // BroadcastHashJoin on a corpus-derived side in that line is a
      // finding, never something this setting may hide.
      .config("spark.driver.maxResultSize",
        sys.env.getOrElse("SPARK_GRAFT_MAX_RESULT", "8g"))
      .getOrCreate()
    val meter = graft.obs.Meter.on(spark)

    // Normalize with the tokenizer's own alphabet, then fuse `q<copy>`
    // into every token ($1 backref keeps it inside the alnum run).
    def amplified(f: Int): DataFrame =
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text")
        .withColumn("copy", explode(sequence(lit(0), lit(f - 1))))
        .select((col("doc_id") * f + col("copy")).as("doc_id"),
          expr("regexp_replace(regexp_replace(lower(text), " +
            "'[^a-z0-9]+', ' '), '([a-z0-9]+)', '$1q' || copy)")
            .as("text"))

    case class Reading(phase: String, f: Int, sec: Double, rows: Long,
        parts: Int, exch: Int, shufWriteMb: Long, shufReadMb: Long,
        storageMb: Long)
    val readings = scala.collection.mutable.ArrayBuffer.empty[Reading]

    // Times CONSTRUCTION + count: packOffsets and ngramJaccardPairs
    // run eager internal materializations at call time, so the work
    // must happen inside the span, not before it. `mk` returns
    // (result, planFrame): the Exchange count is the census of
    // planFrame's plan (no re-execution) so a checkpointed result can
    // still report its real pipeline shape.
    def timed(phase: String, f: Int)
        (mk: => (DataFrame, DataFrame)): DataFrame = {
      val ((df, planDf, n), r) = meter.span(phase) {
        val (df, planDf) = mk
        (df, planDf, df.count())
      }
      // EXECUTED join strategies (post-AQE) of every execution the
      // phase ran: the planning-time count can't see runtime broadcast
      // conversions, and a broadcast of a corpus-derived side is
      // exactly the 100 TB failure this smoke hunts.
      println(s"""{"phase":"$phase","factor":$f,""" +
        s""""joins":"${r.census.joinLine}"}""")
      val rd = Reading(phase, f, r.wallS, n, df.rdd.getNumPartitions,
        graft.obs.Census.of(planDf.queryExecution.executedPlan).exchanges,
        r.shuffleWriteBytes >> 20, r.shuffleReadBytes >> 20,
        r.peakStorageBytes >> 20)
      readings += rd
      println(f"""{"phase":"$phase","factor":$f,"sec":${rd.sec}%.1f,""" +
        f""""rows":$n,"parts":${rd.parts},"exchanges":${rd.exch},""" +
        f""""shuf_write_mb":${rd.shufWriteMb},"shuf_read_mb":${rd.shufReadMb},""" +
        f""""peak_storage_mb":${rd.storageMb},"stages":${r.stages},""" +
        f""""cpu_sec":${r.cpuS}%.1f,"gc_sec":${r.gcS}%.1f}""")
      df
    }

    Seq(1, factor).foreach { f =>
      // synthesis cost out of phase timings; SERIALIZED storage — at
      // factor 100 the full amplified text held as row objects is
      // itself a meaningful slice of a local JVM's heap
      val docs = amplified(f).localCheckpoint(eager = true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      val counts = docs.select(col("doc_id"),
        graft.text.TextOps.tokenCount(col("text")).cast("long")
          .as("n_tokens"))
      timed("packBlocks", f) {
        val b = graft.text.PackOps.packBlocks(counts, "doc_id",
          "n_tokens", 256, "sm")
        (b, b)
      }
      val pairs = timed("ngramJaccardPairs", f) {
        val raw = graft.text.DedupOps.ngramJaccardPairs(docs, "doc_id",
          "text", 3, 0.2)
        (raw.localCheckpoint(eager = true), raw)
      }
      val nodes = docs.select(col("doc_id").as("id"))
      timed("connectedComponents", f) {
        val cc = graft.text.DedupOps.connectedComponents(nodes, pairs)
        (cc, cc)
      }
      // window hashes carry the fused copy marker, so dup spans are
      // strictly within-copy and span rows scale exactly linearly
      timed("dupSpans", f) {
        val ds = graft.text.DedupOps.dupSpans(docs, 8, 2)
        (ds.localCheckpoint(eager = true), ds)
      }
      graft.text.PackOps.releaseSubstrates()
      spark.catalog.clearCache()
    }

    // Scale-shape assertions: identical exchange counts, and linear
    // row scaling for every phase (the salted amplification makes the
    // expected counts exact multiples, modulo block-boundary rounding
    // for packBlocks).
    readings.groupBy(_.phase).foreach { case (phase, rs) =>
      val byF = rs.map(r => r.f -> r).toMap
      val b = byF(1); val big = byF(factor)
      val exchOk = b.exch == big.exch
      val ratio = big.rows.toDouble / b.rows
      println(f"""{"summary":"$phase","exchanges_base":${b.exch},""" +
        f""""exchanges_scaled":${big.exch},"exch_invariant":$exchOk,""" +
        f""""row_ratio":$ratio%.3f,"factor":$factor}""")
    }
    spark.stop()
  }
}
