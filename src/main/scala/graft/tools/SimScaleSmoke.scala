package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale smoke for the similarity chain — the embedding-space
  * counterpart of [[ScaleSmoke]]: amplify the sf0.1 `embeddings`
  * table by an integer factor and run `cosineNearDupPairs` (q51's
  * corpus-scale banding) and `ivfTopK` (q43's dataflow, scale-shaped
  * parameters) at factor 1 and factor N in one session, recording the
  * same per-phase evidence (wall, shuffle bytes, Exchange count, peak
  * storage, GC) plus two EXACT invariants:
  *
  *  - **Copy-0 restriction equality** (near-dup): copy 0 of the
  *    amplified corpus is bit-identical to the factor-1 corpus, and
  *    LSH band keys depend only on the vector, so the factor-N pair
  *    set restricted to copy-0×copy-0 ids must EQUAL the factor-1
  *    pair set row-for-row (checked with two-sided `except`). Other
  *    copies are decorrelated by per-(copy, dim) sign flips — a
  *    diagonal orthogonal transform, so WITHIN-copy cosines (and the
  *    true near-dup structure) are preserved exactly while cross-copy
  *    cosines collapse to the random-pair distribution. Holds as long
  *    as no bucket trips `maxBucketSize` (16-bit keys at these row
  *    counts sit orders of magnitude under the cap; the harness
  *    asserts the cap was not hit by construction of the counts).
  *  - **Exact result cardinality** (IVF): a fixed 200-query panel
  *    over the amplified corpus must return exactly `nq × k` rows at
  *    every factor (probed lists always hold ≥ k candidates at these
  *    centroid counts).
  *
  * Both phases must also keep their physical-plan Exchange count
  * invariant across factors — the plan SHAPE does not change with
  * scale, the same assertion that caught the AQE corpus-side
  * broadcast in the dedup-chain smoke.
  *
  * Usage: `runMain graft.tools.SimScaleSmoke [sfDir] [factor]`
  * (defaults `/root/testdata/sf0.1`, 100).
  */
object SimScaleSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(100)
    val spark = graft.GraftSession()
    val meter = graft.obs.Meter.on(spark)

    // Copy c of vector v: ids re-keyed to `vec_id * f + c` (copy 0 is
    // id-isomorphic to the base under id -> id * f), elements
    // sign-flipped by parity of murmur3(c, dim) — identity for c = 0,
    // a fixed diagonal orthogonal transform for every other copy.
    // The repartition models a real lake read: a corpus this size
    // arrives split across input tasks, not as the single partition a
    // one-file test parquet yields (without it the broadcast-side
    // assignment joins run on one core and the smoke measures the
    // harness, not the operator).
    def amplified(f: Int): DataFrame =
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select("vec_id", "embedding")
        .withColumn("copy", explode(sequence(lit(0), lit(f - 1))))
        .select((col("vec_id") * f + col("copy")).as("vec_id"),
          when(col("copy") === 0, col("embedding")).otherwise(
            expr("transform(embedding, (x, i) -> " +
              "x * cast(1 - 2 * pmod(hash(copy, i), 2) as float))"))
            .as("embedding"))
        .repartition(math.max(1,
          spark.sessionState.conf.numShufflePartitions))

    case class Reading(phase: String, f: Int, sec: Double, rows: Long,
        exch: Int, shufWriteMb: Long, shufReadMb: Long, storageMb: Long)
    val readings = scala.collection.mutable.ArrayBuffer.empty[Reading]

    def timed(phase: String, f: Int)
        (mk: => (DataFrame, DataFrame)): DataFrame = {
      val ((df, planDf, n), r) = meter.span(phase) {
        val (df, planDf) = mk
        (df, planDf, df.count())
      }
      val rd = Reading(phase, f, r.wallS, n,
        graft.obs.Census.of(planDf.queryExecution.executedPlan).exchanges,
        r.shuffleWriteBytes >> 20, r.shuffleReadBytes >> 20,
        r.peakStorageBytes >> 20)
      readings += rd
      println(f"""{"phase":"$phase","factor":$f,"sec":${rd.sec}%.1f,""" +
        f""""rows":$n,"exchanges":${rd.exch},""" +
        f""""shuf_write_mb":${rd.shufWriteMb},"shuf_read_mb":${rd.shufReadMb},""" +
        f""""peak_storage_mb":${rd.storageMb},"stages":${r.stages},""" +
        f""""cpu_sec":${r.cpuS}%.1f,"gc_sec":${r.gcS}%.1f}""")
      df
    }

    var basePairs: DataFrame = null
    Seq(1, factor).foreach { f =>
      val emb = amplified(f).localCheckpoint(eager = true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)

      val pairs = timed("cosineNearDupPairs", f) {
        val p = graft.sim.Similarity.cosineNearDupPairs(emb, 0.35)
        (p.localCheckpoint(eager = true), p)
      }
      if (f == 1) basePairs = pairs
      else {
        // Exact invariant: the factor-N pair set restricted to
        // copy-0 ids equals the factor-1 pair set under id -> id*f.
        val copy0 = pairs
          .filter(pmod(col("id_a"), lit(f)) === 0 &&
            pmod(col("id_b"), lit(f)) === 0)
          .select((col("id_a") / f).cast("long").as("id_a"),
            (col("id_b") / f).cast("long").as("id_b"), col("cos"))
        val missing = basePairs.except(copy0).count()
        val extra = copy0.except(basePairs).count()
        val cross = pairs.filter(
          pmod(col("id_a"), lit(f)) =!= pmod(col("id_b"), lit(f)))
          .count()
        println(s"""{"invariant":"copy0_equality","missing":$missing,""" +
          s""""extra":$extra,"ok":${missing == 0 && extra == 0},""" +
          s""""cross_copy_pairs":$cross}""")
      }

      val queries = emb.filter(pmod(col("vec_id"), lit(f)) === 0 &&
        col("vec_id") < 200L * f)
      // |C| ~ sqrt(N) is the IVF scaling discipline: it balances
      // assignment work (N*C) against probe work (N*nProbe/C) and
      // keeps the centroid set broadcast-small at any corpus size.
      val nC = math.max(64, math.round(math.sqrt(2000.0 * f)).toInt)
      val top = timed("ivfTopK", f) {
        val r = graft.sim.Similarity.ivfTopK(queries, emb, 10,
          numCentroids = nC, nProbe = 2)
        (r.localCheckpoint(eager = true), r)
      }
      val nq = queries.count()
      val got = top.count()
      println(s"""{"invariant":"ivf_cardinality","factor":$f,""" +
        s""""expected":${nq * 10},"got":$got,"ok":${got == nq * 10}}""")

      // SemDedup phase: |C| ~ sqrt(N) keeps the per-cluster
      // quadratic rescore and the broadcast centroid set balanced at
      // any corpus size (cluster ~ sqrt(N) rows -> pair evals ~ N^1.5
      // total, the operator's documented budget knob).
      val nRows = emb.count()
      val semC = math.max(32, math.round(math.sqrt(nRows.toDouble)).toInt)
      val sem = timed("semDedup", f) {
        val r = graft.sim.SemDedup.semDedup(emb, 0.35, numCentroids = semC)
        (r.localCheckpoint(eager = true), r)
      }
      // Exact semantic invariants, distributed: (a) audit-trail
      // contract — every input row comes back; (b) every dropped
      // doc's exemplar is itself kept; (c) keep <=> id == rep_id.
      val semN = sem.count()
      val orphans = sem.filter(!col("keep"))
        .select(col("rep_id").as("id")).distinct()
        .join(sem.filter(col("keep")).select("id"), Seq("id"),
          "left_anti").count()
      val keepMismatch = sem.filter(
        col("keep") =!= (col("id") === col("rep_id"))).count()
      println(s"""{"invariant":"semdedup","factor":$f,"rows_ok":${semN == nRows},""" +
        s""""orphan_reps":$orphans,"keep_mismatch":$keepMismatch,""" +
        s""""kept":${sem.filter(col("keep")).count()},"of":$semN}""")

      // A/B: the PQ/SDC pair stage must produce the IDENTICAL result
      // (exact-recall bound + exact rescore) — compared row-for-row —
      // while moving codes instead of vectors through the quadratic
      // self-join. The timing pair is the BENCH_NOTES A/B row.
      val semPq = timed("semDedupPq", f) {
        val r = graft.sim.SemDedup.semDedupPq(emb, 0.35,
          numCentroids = semC)
        (r.localCheckpoint(eager = true), r)
      }
      val pqDiff = sem.except(semPq).count() + semPq.except(sem).count()
      println(s"""{"invariant":"semdedup_pq_parity","factor":$f,""" +
        s""""diff_rows":$pqDiff,"ok":${pqDiff == 0}}""")

      // IVFADC phases: certify the per-row narrow encode and the
      // probes<->lists merge join at scale; |C| ~ sqrt(N) as above.
      val pqModel = graft.sim.PqOps.pqTrain(emb, "vec_id", "embedding",
        subspaces = 4, k = 16, iters = 1)
      val ivfpq = timed("ivfPqTopK", f) {
        val r = graft.sim.PqOps.ivfPqTopK(queries, emb, 10, pqModel,
          numCoarse = nC, nProbe = 2)
        (r.localCheckpoint(eager = true), r)
      }
      val gotPq = ivfpq.count()
      println(s"""{"invariant":"ivfpq_cardinality","factor":$f,""" +
        s""""expected":${nq * 10},"got":$gotPq,"ok":${gotPq == nq * 10}}""")
      val ivfpqR = timed("ivfPqTopKResidual", f) {
        val r = graft.sim.PqOps.ivfPqTopKResidual(queries, emb, 10,
          subspaces = 4, codes = 16, iters = 1, numCoarse = nC,
          nProbe = 2)
        (r.localCheckpoint(eager = true), r)
      }
      val gotPqR = ivfpqR.count()
      println(s"""{"invariant":"ivfpq_residual_cardinality","factor":$f,""" +
        s""""expected":${nq * 10},"got":$gotPqR,"ok":${gotPqR == nq * 10}}""")

      // SQ8 phases: the scalar-quantizer tier — narrow encode +
      // bounded-broadcast flat search, then the IVF composition
      // (merge-pinned probes<->lists join with SQ-decoded scoring).
      val sqModel = graft.sim.SqOps.sqTrain(emb, "vec_id", "embedding")
      val sqFlat = timed("sqTopK", f) {
        val enc = graft.sim.SqOps.sqEncode(emb, "vec_id", "embedding",
          sqModel)
        val r = graft.sim.SqOps.sqTopK(queries, enc, 10, sqModel)
        (r.localCheckpoint(eager = true), r)
      }
      val gotSq = sqFlat.count()
      println(s"""{"invariant":"sq_cardinality","factor":$f,""" +
        s""""expected":${nq * 10},"got":$gotSq,"ok":${gotSq == nq * 10}}""")
      val ivfsq = timed("ivfSqTopK", f) {
        val r = graft.sim.SqOps.ivfSqTopK(queries, emb, 10, sqModel,
          numCoarse = nC, nProbe = 2)
        (r.localCheckpoint(eager = true), r)
      }
      val gotIvfSq = ivfsq.count()
      println(s"""{"invariant":"ivfsq_cardinality","factor":$f,""" +
        s""""expected":${nq * 10},"got":$gotIvfSq,"ok":${gotIvfSq == nq * 10}}""")

      // protoPrune phase: one-shuffle prototypicality rank + integer
      // cut. Invariants: audit-trail contract (every row returns) and
      // the per-cluster cut arithmetic (kept == n - floor(n/4)).
      val pp = timed("protoPrune", f) {
        val r = graft.sim.PruneOps.protoPrune(emb, 1L, 4L,
          numCentroids = semC)
        (r.localCheckpoint(eager = true), r)
      }
      val ppN = pp.count()
      val cutBad = pp.groupBy("cluster")
        .agg(count(lit(1)).as("n"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("kept"))
        .filter(col("kept") =!=
          col("n") - call_function("div", col("n"), lit(4L)))
        .count()
      println(s"""{"invariant":"proto_prune","factor":$f,""" +
        s""""rows_ok":${ppN == nRows},"cut_violations":$cutBad,""" +
        s""""kept":${pp.filter(col("keep")).count()},"of":$ppN}""")
      spark.catalog.clearCache()
    }

    readings.groupBy(_.phase).foreach { case (phase, rs) =>
      val byF = rs.map(r => r.f -> r).toMap
      val b = byF(1); val big = byF(factor)
      println(f"""{"summary":"$phase","exchanges_base":${b.exch},""" +
        f""""exchanges_scaled":${big.exch},""" +
        f""""exch_invariant":${b.exch == big.exch},"factor":$factor}""")
    }
    spark.stop()
  }
}
