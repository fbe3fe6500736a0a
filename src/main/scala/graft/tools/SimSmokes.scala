package graft.tools

import org.apache.spark.sql.functions._

import graft.sim._
import graft.tools.Smokes.{Run, Smoke}

/** The similarity-tier entries of [[Smokes]]. */
object SimSmokes {

  /** The similarity chain over `embeddings` amplified by the factor
    * ([[Run.embeddings]]): `cosineNearDupPairs` (q51's corpus-scale
    * banding), `ivfTopK` (q43's dataflow, scale-shaped parameters),
    * SemDeDup and its PQ pair stage, the IVFADC and SQ8 searches and
    * `protoPrune`, each with its EXACT invariants asserted:
    *
    *  - **Copy-0 restriction equality** (near-dup): copy 0 of the
    *    amplified corpus is bit-identical to the factor-1 corpus, and
    *    LSH band keys depend only on the vector, so the factor-N pair
    *    set restricted to copy-0×copy-0 ids must EQUAL the factor-1
    *    pair set row-for-row. Holds as long as no bucket trips
    *    `maxBucketSize` (16-bit keys at these row counts sit orders of
    *    magnitude under the cap).
    *  - **Exact result cardinality** (IVF, IVFADC, SQ): a fixed
    *    200-query panel over the amplified corpus returns exactly
    *    `nq × k` rows at every factor (probed lists always hold ≥ k
    *    candidates at these centroid counts).
    *  - SemDeDup's audit trail, exemplars and PQ parity, and
    *    protoPrune's per-cluster cut.
    */
  val sim: Smoke = new Smoke("sim", 100) {
    private var basePairs = Set.empty[(Long, Long, Double)]

    def run(r: Run): Unit = {
      val f = r.f
      val emb = r.stage(r.embeddings())
      val nRows = emb.count()

      r.frame("cosineNearDupPairs") {
        r.stage(Similarity.cosineNearDupPairs(emb, 0.35))
      }.foreach { pairs =>
        // Exact invariant: the factor-N pair set restricted to copy-0
        // ids equals the factor-1 pair set under id -> id*f.
        val copy0 = pairs
          .filter(pmod(col("id_a"), lit(f)) === 0 &&
            pmod(col("id_b"), lit(f)) === 0)
          .select((col("id_a") / f).cast("long").as("id_a"),
            (col("id_b") / f).cast("long").as("id_b"), col("cos"))
          .collect().map(p => (p.getLong(0), p.getLong(1), p.getDouble(2))).toSet
        if (f == 1) basePairs = copy0
        else {
          val (missing, extra) = ((basePairs -- copy0).size, (copy0 -- basePairs).size)
          val cross = pairs.filter(
            pmod(col("id_a"), lit(f)) =!= pmod(col("id_b"), lit(f))).count()
          r.info("invariant" -> "copy0_equality", "missing" -> missing,
            "extra" -> extra, "cross_copy_pairs" -> cross)
          assert(missing == 0 && extra == 0,
            s"copy-0 pairs differ from factor 1: $missing missing, $extra extra")
        }
      }

      val queries = emb.filter(pmod(col("vec_id"), lit(f)) === 0 &&
        col("vec_id") < 200L * f)
      val nq = queries.count()
      def cardinality(phase: String): Unit = r.rows.get(phase).foreach(got =>
        assert(got == nq * 10, s"$phase: $got rows for $nq queries × 10"))
      // |C| ~ sqrt(N) is the IVF scaling discipline: it balances
      // assignment work (N*C) against probe work (N*nProbe/C) and
      // keeps the centroid set broadcast-small at any corpus size; it
      // also keeps ~sqrt(N) rows per list, so the two probed lists hold
      // ≥ k candidates at these corpus sizes.
      val nC = math.max(16, math.round(math.sqrt(nRows.toDouble)).toInt)
      r.frame("ivfTopK") {
        r.stage(Similarity.ivfTopK(queries, emb, 10, numCentroids = nC, nProbe = 2))
      }
      cardinality("ivfTopK")

      // SemDedup phase: |C| ~ sqrt(N) keeps the per-cluster quadratic
      // rescore and the broadcast centroid set balanced at any corpus
      // size (cluster ~ sqrt(N) rows -> pair evals ~ N^1.5 total, the
      // operator's documented budget knob).
      val semC = math.max(32, math.round(math.sqrt(nRows.toDouble)).toInt)
      val sem = r.frame("semDedup") {
        r.stage(SemDedup.semDedup(emb, 0.35, numCentroids = semC))
      }
      // Exact semantic invariants, distributed: (a) audit-trail
      // contract — every input row comes back; (b) every dropped doc's
      // exemplar is itself kept; (c) keep <=> id == rep_id.
      sem.foreach { sem =>
        val semN = sem.count()
        val orphans = sem.filter(!col("keep"))
          .select(col("rep_id").as("id")).distinct()
          .join(sem.filter(col("keep")).select("id"), Seq("id"),
            "left_anti").count()
        val keepMismatch = sem.filter(
          col("keep") =!= (col("id") === col("rep_id"))).count()
        assert(semN == nRows && orphans == 0 && keepMismatch == 0,
          s"semDedup: $semN of $nRows rows, $orphans orphan exemplars, " +
          s"$keepMismatch keep/rep_id mismatches")
      }

      // A/B: the PQ/SDC pair stage must produce the IDENTICAL result
      // (exact-recall bound + exact rescore) — compared row-for-row —
      // while moving codes instead of vectors through the quadratic
      // self-join. The timing pair is the BENCH_NOTES A/B row.
      val semPq = r.frame("semDedupPq") {
        r.stage(SemDedup.semDedupPq(emb, 0.35, numCentroids = semC))
      }
      for (s <- sem; p <- semPq) {
        val pqDiff = s.except(p).count() + p.except(s).count()
        assert(pqDiff == 0, s"semDedupPq differs from semDedup in $pqDiff rows")
      }

      // IVFADC phases: certify the per-row narrow encode and the
      // probes<->lists merge join at scale; |C| ~ sqrt(N) as above.
      val pqModel = PqOps.pqTrain(emb, "vec_id", "embedding",
        subspaces = 4, k = 16, iters = 1)
      r.frame("ivfPqTopK") {
        r.stage(PqOps.ivfPqTopK(queries, emb, 10, pqModel, numCoarse = nC, nProbe = 2))
      }
      cardinality("ivfPqTopK")
      r.frame("ivfPqTopKResidual") {
        r.stage(PqOps.ivfPqTopKResidual(queries, emb, 10, subspaces = 4,
          codes = 16, iters = 1, numCoarse = nC, nProbe = 2))
      }
      cardinality("ivfPqTopKResidual")

      // SQ8 phases: the scalar-quantizer tier — narrow encode +
      // bounded-broadcast flat search, then the IVF composition
      // (merge-pinned probes<->lists join with SQ-decoded scoring).
      val sqModel = SqOps.sqTrain(emb, "vec_id", "embedding")
      r.frame("sqTopK") {
        val enc = SqOps.sqEncode(emb, "vec_id", "embedding", sqModel)
        r.stage(SqOps.sqTopK(queries, enc, 10, sqModel))
      }
      cardinality("sqTopK")
      r.frame("ivfSqTopK") {
        r.stage(SqOps.ivfSqTopK(queries, emb, 10, sqModel, numCoarse = nC, nProbe = 2))
      }
      cardinality("ivfSqTopK")

      // protoPrune phase: one-shuffle prototypicality rank + integer
      // cut. Invariants: audit-trail contract (every row returns) and
      // the per-cluster cut arithmetic (kept == n - floor(n/4)).
      r.frame("protoPrune") {
        r.stage(PruneOps.protoPrune(emb, 1L, 4L, numCentroids = semC))
      }.foreach { pp =>
        val cutBad = pp.groupBy("cluster")
          .agg(count(lit(1)).as("n"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("kept"))
          .filter(col("kept") =!=
            col("n") - call_function("div", col("n"), lit(4L)))
          .count()
        assert(r.rows("protoPrune") == nRows && cutBad == 0,
          s"protoPrune: ${r.rows("protoPrune")} of $nRows rows, " +
          s"$cutBad clusters off the cut")
      }
    }
  }

  /** The SemDeDup mega-cluster pair guard ([[SemDedup.pairKeys]]) on a
    * quantizer-collapse panel: the amplified `embeddings` deliberately
    * quantized with ONE centroid (`centroidStride` = corpus size), the
    * purest form of "the data defeated the quantizer": every row lands
    * in one coarse cluster, so the pair stage is the full n·(n−1)/2
    * quadratic on a single merge-join key (one task, no parallelism —
    * the failure VERDICT_r17 flagged as 10¹⁸ pairs at a 100 TB
    * boilerplate mode).
    *
    * Arms: `guard_on` (budget 2M pairs: `pairKeys` sub-splits the
    * collapsed cluster until every key fits) and `guard_off`
    * (`maxPairsPerCluster = 0`, the unguarded path). Asserts the
    * guard's containment invariant: splitting only REMOVES candidate
    * pairs, components only get finer, and the argmin exemplar of an
    * old component stays the argmin of its new sub-component — so the
    * guard-off keep-set must be a SUBSET of the guard-on keep-set.
    * Where the unguarded arm is infeasible (f100 = 2×10¹⁰ pairs on one
    * join key), run the phase filter `guard_on`: the point of the
    * guard is that the guarded arm still completes there. */
  val semSkew: Smoke = new Smoke("semSkew", 10) {
    def run(r: Run): Unit = {
      val emb = r.stage(r.embeddings())
      val n = emb.count()
      r.info("panel" -> "quantizer_collapse", "rows" -> n,
        "pairs_unguarded" -> n * (n - 1) / 2)

      def arm(name: String, budget: Long): Option[Set[Long]] =
        r.phase(name) {
          val out = r.stage(SemDedup.semDedup(emb, 0.5,
            centroidStride = n, maxPairsPerCluster = budget))
          out.filter(col("keep")).select("id").collect().map(_.getLong(0)).toSet
        }(_.size.toLong)

      for (keptOn <- arm("guard_on", 2000000L); keptOff <- arm("guard_off", 0L)) {
        val missing = keptOff -- keptOn
        assert(missing.isEmpty,
          s"containment violated: ${missing.size} guard-off exemplars " +
          s"absent from the guard-on keep-set (e.g. ${missing.take(5)})")
      }
    }
  }
}
