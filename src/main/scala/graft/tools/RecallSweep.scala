package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Recall@k sweep over the ANN index family — the operational
  * evidence that the quantizer tier is USABLE, not just
  * hash-stable (VERDICT r14 ask #6). [[SimScaleSmoke]] certifies
  * plan shape and cardinality at scale; this harness certifies
  * RETRIEVAL QUALITY: every approximate index is scored against an
  * exact ground truth on the same metric, with the IVF variants
  * swept over nProbe ∈ {1,2,4,8}.
  *
  * Two ground truths, matching each family's native metric:
  *  - cosine truth ([[graft.sim.Similarity.bruteForceTopK]]) for the
  *    cosine-space indexes: LSH-bucketed top-k and cosine IVF;
  *  - exact integer-L1 truth over quantized vectors for the
  *    quantizer tier (PQ-ADC, IVFADC, residual IVFADC, SQ8,
  *    IVF,SQ8) — their recall measures quantization + probe loss,
  *    not metric mismatch. The truth pass runs the same fused
  *    [[graft.functions.SqKernels]]-class arithmetic the operators
  *    use, via [[graft.sim.PqOps.adcRerankTopK]] with the shortlist
  *    opened to the corpus size (rerank of everything == exact L1).
  *
  * Recall is [[graft.sim.EvalOps.recallAtK]]'s exact micro-units;
  * the mean over the query panel is printed per index/parameter as
  * one JSON line. Committed output lands in BENCH_NOTES.md.
  *
  * Usage: `runMain graft.tools.RecallSweep [sfDir] [factor] [k]`
  * (defaults `/root/testdata/sf0.1`, 100, 10). */
object RecallSweep {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(100)
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.GraftSession()

    // The SimScaleSmoke amplification: copy 0 id-isomorphic, other
    // copies decorrelated by per-(copy, dim) sign flips.
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
      .withColumn("copy", explode(sequence(lit(0), lit(factor - 1))))
      .select((col("vec_id") * factor + col("copy")).as("vec_id"),
        when(col("copy") === 0, col("embedding")).otherwise(
          expr("transform(embedding, (x, i) -> " +
            "x * cast(1 - 2 * pmod(hash(copy, i), 2) as float))"))
          .as("embedding"))
      .repartition(math.max(1,
        spark.sessionState.conf.numShufflePartitions))
      .localCheckpoint(eager = true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val nRows = emb.count()
    val queries = emb.filter(pmod(col("vec_id"), lit(factor)) === 0 &&
      col("vec_id") < 200L * factor)
      .localCheckpoint(eager = true)
    val nq = queries.count()
    val nC = math.max(64, math.round(math.sqrt(nRows.toDouble / 100)).toInt)
    println(s"""{"setup":"recall_sweep","rows":$nRows,"queries":$nq,""" +
      s""""k":$k,"coarse":$nC,"factor":$factor}""")

    // Optional index filter (comma-separated name prefixes) — the
    // scale-smoke convention, so one family can be re-swept without
    // paying for the whole table (e.g. SPARK_GRAFT_INDEXES=hamming).
    val only: Set[String] = sys.env.get("SPARK_GRAFT_INDEXES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

    def meanRecall(name: String, param: String, approx: => DataFrame,
        truth: DataFrame): Unit = {
      if (only.nonEmpty && !only.exists(name.startsWith)) return
      val r = graft.sim.EvalOps.recallAtK(approx, truth)
        .agg(avg(col("recall_micro")).cast("long").as("mean"),
          min(col("recall_micro")).as("min"),
          count(lit(1)).as("n")).head()
      println(s"""{"recall":"$name",$param""" +
        s""""mean_recall_micro":${r.getLong(0)},""" +
        s""""min_recall_micro":${r.getLong(1)},"queries":${r.getLong(2)}}""")
    }

    // ---- cosine family ----
    val cosTruth = graft.sim.Similarity.bruteForceTopK(queries, emb, k)
      .localCheckpoint(eager = true)
    Seq(1, 2, 4, 8).foreach { np =>
      val approx = graft.sim.Similarity.ivfTopK(queries, emb, k,
        numCentroids = nC, nProbe = np)
      meanRecall("ivf_cosine", s""""nprobe":$np,""", approx, cosTruth)
    }
    val lsh = graft.sim.Similarity.lshTopK(emb, k)
      .join(queries.select(col("vec_id").as("q_id")), Seq("q_id"),
        "left_semi")
    meanRecall("lsh_bucketed", "", lsh, cosTruth)
    // binary tier: 48 sign bits, ranked purely by Hamming distance —
    // recall vs the exact cosine truth measures the sign-sketch loss
    meanRecall("hamming48", "",
      graft.sim.HammingOps.hammingTopK(queries,
        graft.sim.HammingOps.encode(emb, "vec_id", "embedding"), k),
      cosTruth)
    // wide signatures + the shortlist→exact-rerank composite: the
    // sketch tier's recall recovery path (VERDICT r15 ask #3)
    val encWide = graft.sim.HammingOps.encodeWide(emb, "vec_id",
      "embedding", planes = 128)
    meanRecall("hamming_wide128", "",
      graft.sim.HammingOps.hammingTopKWide(queries, encWide, k,
        planes = 128), cosTruth)
    Seq(4 * k, 40 * k).foreach { sl =>
      meanRecall("hamming_rerank128", s""""shortlist":$sl,""",
        graft.sim.HammingOps.hammingRerankTopK(queries, emb, encWide,
          k, sl, planes = 128), cosTruth)
    }

    // ---- quantizer tier (exact integer-L1 truth) ----
    val pqModel = graft.sim.PqOps.pqTrain(emb, "vec_id", "embedding",
      subspaces = 8, k = 64, iters = 2)
    val encoded = graft.sim.PqOps.pqEncode(emb, "vec_id", "embedding",
      pqModel)
    // shortlist == corpus => the exact rerank covers everything:
    // this IS the exact integer-L1 top-k (the ADC stage only orders
    // the full candidate set, which the rerank then rescores exactly)
    val l1Truth = graft.sim.PqOps.adcRerankTopK(queries, emb, encoded,
        k, shortlist = nRows.toInt, pqModel)
      .localCheckpoint(eager = true)

    meanRecall("pq_adc_flat", "",
      graft.sim.PqOps.adcTopK(queries, encoded, k, pqModel), l1Truth)
    // OPQ-style permutation: same budget (8 subspaces x 64 codes),
    // balanced-spread subspaces. L1 is permutation-invariant, so
    // l1Truth stays the valid ground truth — the delta vs pq_adc_flat
    // IS the permutation's recall gain.
    meanRecall("opq_adc_flat", "",
      graft.sim.OpqOps.opqAdcTopK(queries, emb, k, subspaces = 8,
        codes = 64, iters = 2), l1Truth)
    meanRecall("pq_adc_rerank", s""""shortlist":${4 * k},""",
      graft.sim.PqOps.adcRerankTopK(queries, emb, encoded, k, 4 * k,
        pqModel), l1Truth)
    Seq(1, 2, 4, 8).foreach { np =>
      meanRecall("ivf_pq", s""""nprobe":$np,""",
        graft.sim.PqOps.ivfPqTopK(queries, emb, k, pqModel,
          numCoarse = nC, nProbe = np), l1Truth)
      meanRecall("ivf_pq_lloyd1", s""""nprobe":$np,""",
        graft.sim.PqOps.ivfPqTopK(queries, emb, k, pqModel,
          numCoarse = nC, nProbe = np, coarseIters = 1), l1Truth)
      // greedy-d² farthest-point seed (q137's seeder), raw and with
      // one Lloyd round — the seed-quality axis of VERDICT r15 ask #5
      meanRecall("ivf_pq_fps", s""""nprobe":$np,""",
        graft.sim.PqOps.ivfPqTopK(queries, emb, k, pqModel,
          numCoarse = nC, nProbe = np, coarseSeed = "farthest"),
        l1Truth)
      meanRecall("ivf_pq_fps_lloyd1", s""""nprobe":$np,""",
        graft.sim.PqOps.ivfPqTopK(queries, emb, k, pqModel,
          numCoarse = nC, nProbe = np, coarseSeed = "farthest",
          coarseIters = 1), l1Truth)
      meanRecall("ivf_pq_residual", s""""nprobe":$np,""",
        graft.sim.PqOps.ivfPqTopKResidual(queries, emb, k,
          subspaces = 8, codes = 64, iters = 2, numCoarse = nC,
          nProbe = np), l1Truth)
    }

    val sqModel = graft.sim.SqOps.sqTrain(emb, "vec_id", "embedding")
    val sqEnc = graft.sim.SqOps.sqEncode(emb, "vec_id", "embedding",
      sqModel)
    meanRecall("sq8_flat", "",
      graft.sim.SqOps.sqTopK(queries, sqEnc, k, sqModel), l1Truth)
    Seq(1, 2, 4, 8).foreach { np =>
      meanRecall("ivf_sq8", s""""nprobe":$np,""",
        graft.sim.SqOps.ivfSqTopK(queries, emb, k, sqModel,
          numCoarse = nC, nProbe = np), l1Truth)
      meanRecall("ivf_sq8_fps", s""""nprobe":$np,""",
        graft.sim.SqOps.ivfSqTopK(queries, emb, k, sqModel,
          numCoarse = nC, nProbe = np, coarseSeed = "farthest"),
        l1Truth)
    }
    spark.stop()
  }
}
