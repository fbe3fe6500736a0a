package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Materialize

/** Scalar quantization (SQ8) for embedding search — the
  * per-DIMENSION compression leg of the ANN family, completing the
  * quantizer tier next to PQ/IVFADC ([[PqOps]]): each dimension is
  * affinely mapped to an 8-bit code against per-dimension
  * `[min, max]` bounds learned in one corpus pass, so a d-float
  * vector stores as d conceptual bytes (the FAISS `SQ8` /
  * `IVF…,SQ8` index family). Where PQ spends its budget on a
  * codebook argmin over subspaces, SQ keeps one code per dimension
  * with no codebook at all — encode/decode are pure arithmetic, so
  * it retains more per-dimension resolution than PQ at the same
  * byte budget but cannot compress below one code per dimension;
  * that trade is exactly why production ANN stacks ship both.
  *
  * Why it matters at 100 TB: like PQ, the corpus-side scan/shuffle
  * payload drops from d floats to d bytes (4×), and — unlike PQ —
  * encoding adds NO per-row argmin cost, so the encode pass is a
  * pure narrow projection that rides the scan. Training is one
  * map-side-combining min/max aggregation (2·d cells collected —
  * parameter-bounded, never corpus-bounded). Compose with the IVF
  * coarse layer ([[ivfSqTopK]]) so each query meets only its probed
  * lists — the `IVF,SQ8` layout.
  *
  * Determinism (the property every oracle check leans on): all
  * arithmetic is exact BIGINT in micro-units — vectors quantize on
  * the repo's portable grid ([[PqOps.quantize]]); codes round
  * half-up via the overflow-safe integer form
  * `code = (510·(v−min) + span) div (2·span)` (span = max−min; a
  * constant dimension encodes 0); decode is
  * `min + (2·code·span + 255) div 510` (branchless — span 0 decodes
  * to min since 255 div 510 = 0); distances are order-invariant
  * integer L1 sums over decoded values. Two runs — or two engines —
  * produce bit-identical codes and distances.
  *
  * Encode and per-pair scoring run on the FUSED codegen kernels
  * ([[graft.functions.SqKernels]]): one generated loop each, with
  * the per-dimension bounds riding along as a reference-object
  * long[]. The r14 form unrolled both into d-term element_at
  * chains — codegen-resident at test dims but LINEAR in d, so at
  * production embedding dims (d = 768–1536) the generated method
  * crosses the JVM 64KB limit and the stage silently falls back to
  * interpreted evaluation (the r14 SDC/ADC defect class, flagged
  * for SqOps by VERDICT r14). The kernels generate constant-size
  * code at any d — `SqOpsSpec` pins d=768 inside WholeStageCodegen
  * and bit-parity against the interpreted reference.
  *
  * Reference scope: the reference pipeline (a flux-tower ETL) has
  * no ANN operator; this extends the engine's similarity family
  * ([[Similarity]], [[PqOps]], [[SemDedup]]) per the build brief's
  * training-data mandate. */
object SqOps {

  /** SQ model: per-dimension quantized-domain bounds (micro-units on
    * the `scaleBits` grid the codes were trained on). */
  final case class SqModel(mins: Array[Long], maxs: Array[Long],
      scaleBits: Int) {
    def dim: Int = mins.length
    def span(i: Int): Long = maxs(i) - mins(i)
  }

  /** Learn per-dimension [min, max] bounds: ONE corpus pass — a
    * single min/max aggregation (map-side combinable) collecting
    * exactly 2·d cells to the driver. The dimension probe reads the
    * first NON-NULL, non-empty vector (null rows don't poison it —
    * ADVICE r14), and the bounds are trained on the fixed-length
    * slice only (`size == d`): a ragged row neither widens nor
    * silently truncates the model. Every dimension must see at
    * least one non-null cell or training fails with a named
    * dimension, not an opaque NPE. */
  def sqTrain(df: DataFrame, idCol: String, vecCol: String,
      scaleBits: Int = 20): SqModel = {
    require(scaleBits >= 1 && scaleBits <= 30, s"scaleBits=$scaleBits")
    val probe = df.select(size(col(vecCol)).as("d"))
      .filter(col("d").isNotNull && col("d") >= 1).limit(1).collect()
    require(probe.nonEmpty,
      "sqTrain: no non-null, non-empty vectors in input")
    val d = probe.head.getInt(0)
    val q = df.filter(size(col(vecCol)) === d).select(
      PqOps.quantize(col(vecCol), scaleBits).as("__qv"))
    val aggs = (0 until d).flatMap(i => Seq(
      min(col("__qv").getItem(i)).as(s"mn$i"),
      max(col("__qv").getItem(i)).as(s"mx$i")))
    val row = q.agg(aggs.head, aggs.drop(1): _*).head()
    (0 until d).foreach { i =>
      require(!row.isNullAt(2 * i) && !row.isNullAt(2 * i + 1),
        s"sqTrain: dimension $i has no non-null values in any " +
          s"length-$d vector")
    }
    SqModel(Array.tabulate(d)(i => row.getLong(2 * i)),
      Array.tabulate(d)(i => row.getLong(2 * i + 1)), scaleBits)
  }

  /** Per-vector code array over a staged `__qv` column via the fused
    * encode kernel: code_i = round-half-up of
    * (qv_i − min_i)·255/span_i, 0 for a constant dimension. */
  private def codesCol(model: SqModel): Column =
    graft.functions.SqKernels.encode(col("__qv"),
      model.mins.toIndexedSeq, model.maxs.indices
        .map(i => model.span(i)))

  /** Encode: `(idCol, codes array<int>)` — a pure NARROW projection
    * (bounds ride as a reference long[], no shuffle, no argmin;
    * rides the scan). */
  def sqEncode(df: DataFrame, idCol: String, vecCol: String,
      model: SqModel): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
        PqOps.quantize(col(vecCol), model.scaleBits).as("__qv"))
      .select(col("id").as(idCol), codesCol(model).as("codes"))

  /** Per-candidate approximate L1 via the fused distance kernel:
    * Σ_i |qv_i − decode_i(code_i)| with decode_i = min_i +
    * (2·code_i·span_i + 255) div 510. Reads the conventional
    * `__qv` (query side) and `__codes` (candidate side) columns. */
  private def sqDist(model: SqModel): Column =
    graft.functions.SqKernels.l1Dist(col("__qv"), col("__codes"),
      model.mins.toIndexedSeq,
      model.maxs.indices.map(i => model.span(i)))

  /** SQ top-k: exact queries against the SQ-encoded corpus
    * (`encoded` = [[sqEncode]] output). The corpus side moves only
    * (id, d codes); the query side is broadcast with its quantized
    * vector, so per-pair work is d integer ops in one codegen stage.
    * Self-matches (equal ids) are excluded. Returns
    * (q_id, rank, n_id, adist) with adist = approximate L1 in
    * micro-units (BIGINT — exact, engine-portable) ranked
    * (adist ASC NULLS LAST, n_id ASC) — degenerate candidates (null
    * or ragged vectors score null) rank after every real distance,
    * the DuckDB ASC default.
    *
    * The query set must be caller-bounded (the [[Similarity
    * .bruteForceTopK]] contract — it is broadcast); for corpus-sized
    * query sets compose with IVF ([[ivfSqTopK]]) so each query meets
    * only its probed lists. */
  def sqTopK(queries: DataFrame, encoded: DataFrame, k: Int,
      model: SqModel, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).cast("long").as("q_id"),
      PqOps.quantize(col(vecCol), model.scaleBits).as("__qv"))
    val c = encoded.select(col(idCol).cast("long").as("n_id"),
      col("codes").as("__codes"))
    // bounded top-k aggregate; ASC NULLS LAST is encoded as a
    // Long.MaxValue sentinel (no real SQ distance reaches it — the
    // L1 of d byte codes is < d·2⁸·2^scaleBits ≪ 2⁶³), n_id the
    // unique tiebreak; see [[graft.functions.TopK]]
    graft.functions.TopK.perQueryCut(
      broadcast(q).join(c, col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"), sqDist(model).as("adist")),
      k, coalesce(col("adist"), lit(Long.MaxValue)), "adist")
  }

  /** IVF + SQ8 — the `IVF…,SQ8` FAISS layout: coarse lists bound the
    * candidate count ([[PqOps.ivfPqTopK]]'s count-derived id-modulo
    * centroid sample, or [[PqOps.farthestPointSeeds]] via
    * `coarseSeed = "farthest"`, assigned by the fused integer-L1
    * kernel), SQ codes bound the bytes per candidate. The probes↔lists join is
    * MERGE-pinned so the corpus-derived list table can never be
    * estimate-broadcast (the r13 executed-join audit class); the
    * coarse-centroid collect is |C|-bounded by contract. Returns
    * (q_id, rank, n_id, adist) ranked (adist ASC, n_id ASC) over
    * each query's `nProbe` probed lists. */
  def ivfSqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      model: SqModel, numCoarse: Int = 256, nProbe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroidStride: Long = 0L, coarseIters: Int = 0,
      coarseSeed: String = "stride"): DataFrame = {
    // by-name into coarseSeedSet: the full-corpus count only runs on
    // the "stride" seed path (the farthest-point path never reads it)
    lazy val stride =
      if (centroidStride > 0L) centroidStride
      else math.max(1L, corpus.count() / math.max(1, numCoarse))
    // Checkpointed like the PqOps.ivfPqTopK qcorp (r22, guide §5
    // cache-when-reused): the quantized corpus feeds the seed stage
    // AND the list assignment — on the "farthest" path that is
    // numCoarse − 1 sequential TakeOrdered passes (q137: 11), each of
    // which re-scanned and re-quantized the source per pass here.
    val qcorp = Materialize.checkpoint(corpus.select(
      col(idCol).cast("long").as("id"),
      PqOps.quantize(col(vecCol), model.scaleBits).as("__qv")))
    val cents: Array[Array[Long]] = PqOps.coarseSeedSet(
      qcorp, stride, numCoarse, coarseSeed, coarseIters, qvC = "__qv")
    if (cents.isEmpty)
      return queries.sparkSession.emptyDataFrame
        .withColumn("q_id", lit(0L)).withColumn("rank", lit(1))
        .withColumn("n_id", lit(0L)).withColumn("adist", lit(0L))
        .limit(0)
    def nearestLists(n: Int): Column =
      graft.functions.NearestListsL1.topIdx(col("__qv"),
        cents.map(_.toIndexedSeq).toIndexedSeq, n)
    val lists = qcorp
      .select(col("id").as("n_id"),
        codesCol(model).as("__codes"),
        element_at(nearestLists(1), 1).as("list_id"))
    val probes = queries
      .select(col(idCol).cast("long").as("q_id"),
        PqOps.quantize(col(vecCol), model.scaleBits).as("__qv"))
      .select(col("q_id"), col("__qv"),
        explode(nearestLists(nProbe)).as("list_id"))
    graft.functions.TopK.perQueryCut(
      probes.join(lists.hint("merge"), "list_id")
        .filter(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"), sqDist(model).as("adist")),
      k, coalesce(col("adist"), lit(Long.MaxValue)), "adist")
  }
}
