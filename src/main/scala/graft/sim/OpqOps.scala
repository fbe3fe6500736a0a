package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** OPQ-style coordinate permutation for product quantization — the
  * standard recall refinement between raw PQ and residual encoding
  * (Ge et al., "Optimized Product Quantization", CVPR 2013; Norouzi
  * & Fleet, "Cartesian k-means", CVPR 2013). Full OPQ learns an
  * orthogonal rotation R and encodes R·x; the float matrix multiply
  * would break this engine's exact-integer/oracle-replayable
  * discipline, so this is the PERMUTATION restriction of the OPQ
  * family (a permutation matrix IS orthogonal): re-order coordinates
  * so each PQ subspace receives a balanced share of the corpus
  * spread before the codebooks train. PQ's per-subspace codebooks
  * spend their k codes on whatever varies inside the subspace; when
  * the high-spread dimensions cluster in one subspace (common with
  * blockwise-generated or concatenated features) that subspace's
  * quantization error dominates while others waste codes. Balancing
  * the spread equalizes per-subspace error — the same objective OPQ's
  * eigenvalue-allocation initialization optimizes (Ge §4.2, the
  * "parametric" solution), restricted to exact arithmetic.
  *
  * Learning is ONE corpus pass ([[SqOps.sqTrain]]'s min/max
  * aggregation — 2·d cells collected, parameter-bounded): the
  * per-dimension spread proxy is the quantized-domain span
  * `max_i − min_i`; dimensions sort (span DESC, dim ASC) and deal
  * into the m subspaces in SNAKE order (s₀…s_{m−1}, s_{m−1}…s₀, …)
  * — the classic balanced-partition greedy; within a subspace,
  * dimensions keep ascending order. Deterministic, integer-exact,
  * and replayable in SQL (q122's oracle re-derives the spans, the
  * snake, and the full downstream PQ chain in DuckDB).
  *
  * Apply is the fused [[graft.functions.PermuteArray]] gather —
  * narrow, constant codegen size at any d. L1 and cosine are
  * permutation-invariant, so exact ground truths computed on the
  * unpermuted corpus remain valid for permuted-space search (the
  * recall sweeps recorded in BENCH_NOTES, "ANN recall@10 sweep" and
  * "full-family recall@10", used exactly this to measure the gain).
  *
  * Reference scope: the reference pipeline (a flux-tower ETL) has no
  * ANN operator; this extends the quantizer tier ([[PqOps]],
  * [[SqOps]]) per the build brief's training-data mandate. */
object OpqOps {

  /** Learn the balanced-spread permutation: `perm(i)` = the source
    * dimension that lands at position i of the permuted vector,
    * positions grouped by subspace (all of subspace 0's dims first).
    * One corpus pass; requires d divisible by `subspaces`. */
  def learnPermutation(df: DataFrame, idCol: String, vecCol: String,
      subspaces: Int, scaleBits: Int = 20): IndexedSeq[Int] = {
    require(subspaces >= 1, s"subspaces=$subspaces")
    val model = SqOps.sqTrain(df, idCol, vecCol, scaleBits)
    require(model.dim % subspaces == 0,
      s"dim ${model.dim} not divisible by $subspaces subspaces")
    val bySpread = (0 until model.dim)
      .sortBy(i => (-model.span(i), i))
    val assigned = bySpread.zipWithIndex.map { case (dim, r) =>
      val round = r / subspaces
      val slot = r % subspaces
      val sub = if (round % 2 == 0) slot else subspaces - 1 - slot
      (sub, dim)
    }
    assigned.sorted.map(_._2).toIndexedSeq
  }

  /** Permute `vecCol` in place (all other columns ride through). */
  def applyPermutation(df: DataFrame, vecCol: String,
      perm: IndexedSeq[Int]): DataFrame =
    df.withColumn(vecCol,
      graft.functions.PermuteArray.gather(col(vecCol), perm))

  /** Convenience: permuted-space PQ top-k — learn the permutation,
    * permute corpus + queries, then the standard
    * [[PqOps.pqTrain]]/[[PqOps.pqEncode]]/[[PqOps.adcTopK]] chain.
    * Same contracts as adcTopK (caller-bounded query side). */
  def opqAdcTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      subspaces: Int, codes: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      scaleBits: Int = 20): DataFrame = {
    val perm = learnPermutation(corpus, idCol, vecCol, subspaces,
      scaleBits)
    val pc = applyPermutation(corpus, vecCol, perm)
    val pq = applyPermutation(queries, vecCol, perm)
    val model = PqOps.pqTrain(pc, idCol, vecCol, subspaces, codes,
      iters, scaleBits)
    val enc = PqOps.pqEncode(pc, idCol, vecCol, model)
    PqOps.adcTopK(pq, enc, k, model, idCol, vecCol)
  }
}
