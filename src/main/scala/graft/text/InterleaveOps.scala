package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.CheckNonNegative
import graft.operators.Materialize
import graft.operators.PrefixScan
import graft.operators.PrefixScan.freshName

/** Proportional mixture interleave — the deterministic TRAINING
  * ORDER a mixture recipe implies: lay the corpus out so that every
  * prefix of the sequence contains the strata in (approximately)
  * their target proportions. This is the materialized-order
  * counterpart of the example-level samplers in T5/UniMax-style
  * pipelines ("sample language l with probability w_l"): instead of
  * a seeded RNG stream, each stratum's k-th document is assigned the
  * stride-scheduling virtual time (2k−1)/(2·w_s) (Waldspurger &
  * Weihl, "Stride Scheduling: Deterministic Proportional-Share
  * Resource Management", MIT TM-528, 1995 — the deterministic
  * counterpart of lottery scheduling; same schedule as WFQ's
  * finish-time order) and the corpus is sorted by it. Stride
  * scheduling's guarantee carries over verbatim: in any length-t
  * prefix, stratum s appears t·w_s/W ± O(1) times — no prefix is
  * ever starved of a stratum or flooded by one, which is exactly the
  * "every batch sees the mixture" property data loaders want.
  *
  * Exactness: weights are integer parts (reduced by their gcd); the
  * virtual time is quantized to `mix_key = floor((2k−1)·M / (2·w_s))`
  * with M a common resolution — when M is an exact common multiple
  * of every 2·w_s (the default; see `resolution`) the quantization
  * is LOSSLESS and the order is exactly the rational stride
  * schedule. Ties (equal key) break by (stratum ASC, k ASC). All
  * arithmetic is integer with the floor decomposition
  * ([[MixOps.mulDivFloor]]); its first term (k div w)·M is
  * RANK-sized, so after the rank pass M is capped at
  * Long.MaxValue / (2·max(k_max, w_max)) — every intermediate and
  * the key itself then provably fit in Long (see
  * [[proportionalInterleave]]).
  *
  * Scale shape — two [[graft.operators.PrefixScan]]s, no
  * corpus-wide window:
  *   1. per-stratum rank `mix_k = excl + 1` (and the token prefix,
  *      sized variant): a stratified scan on (stratum, id) — a hot
  *      stratum spans many range partitions, so there is no
  *      one-reducer-per-stratum skew, unlike a
  *      `Window.partitionBy(stratum)`.
  *   2. global position `seq = excl + 1`: a count scan on
  *      (key, stratum, k) (a `Window.orderBy` over the corpus would
  *      be a single-partition stage).
  * Driver collects are bounded by partitions + strata. The weight
  * table is L rows, broadcast.
  *
  * Composes with the rest of the mixing family: weights can be doc
  * counts, [[MixOps.unimaxAllocate]] token allocations, or recipe
  * parts; feed [[SampleOps.oversample]] output (with `copy` folded
  * into the id) to interleave repeated epochs.
  *
  * Reference scope: the reference pipeline (a flux-tower ETL) has no
  * mixture-order operator; this extends the engine's curation family
  * per the build brief's training-data mandate. */
object InterleaveOps {

  /** floor(x·num/den) for non-negative x/num/den Columns without an
    * x·num product: (x div den)·num + ((x mod den)·num) div den —
    * the [[MixOps.mulDivFloor]] identity with per-row num/den. NOT
    * unconditionally overflow-free: the first term is ≈ (x/den)·num
    * — rank-sized when x is a stratum rank — so the CALLER must
    * bound num·max(x/den) and den·num under Long.MaxValue (see the
    * post-rank-pass resolution cap in [[proportionalInterleave]],
    * closing the r14 silent-overflow finding). */
  private[graft] def mulDivFloorC(x: Column, num: Column,
      den: Column): Column = {
    val xl = x.cast("long")
    call_function("div", xl, den) * num +
      call_function("div", (xl % den) * num, den)
  }

  private def gcdL(a: Long, b: Long): Long = {
    var x = a; var y = b
    while (y != 0) { val t = x % y; x = y; y = t }
    math.max(x, 1L)
  }

  /** Least common multiple of `dens`, capped: the exact lcm while it
    * fits under `cap`, else `cap` itself (quantized schedule — still
    * deterministic, deviation ≤ one key step). */
  private[graft] def commonResolution(dens: Iterable[Long],
      cap: Long): Long = {
    var acc = 1L
    val it = dens.iterator
    while (it.hasNext) {
      val d = it.next()
      val mult = d / gcdL(acc, d)
      if (mult != 0 && acc > cap / mult) return cap
      acc *= mult
    }
    acc
  }

  /** Interleave `df` into the stride-scheduled mixture order.
    * `weights` maps stratum → positive integer parts (reduced by
    * their gcd internally); strata absent from the map are DROPPED
    * (weight-0 semantics, as [[SampleOps.oversample]]). NULL strata
    * fold to "" before lookup (the [[MixOps]] convention). Within a
    * stratum documents are ordered by `idCol` ascending — re-key
    * upstream (e.g. by quality rank) for a curriculum. `resolution`
    * overrides the quantization step M (default 0 = exact lcm of the
    * 2·w_s, capped at 2^42). Whatever its origin, M is additionally
    * capped at Long.MaxValue / (2·max(k_max, w_max)) once the rank
    * pass has revealed the deepest stratum rank k_max: every
    * intermediate of the key arithmetic is then provably in Long
    * ((2k−1)·M/(2w) ≤ k_max·M and the mod-term product < 2w·M), so
    * `mix_key` can never silently wrap negative and corrupt the
    * training order. A capped M means a quantized (still fully
    * deterministic) schedule, deviation ≤ one key step.
    *
    * Returns every kept row plus `mix_k` (1-based rank within its
    * stratum), `mix_key` (the quantized virtual time), and `seq`
    * (1-based global position; unique — `ORDER BY seq` IS the
    * training order). Those are reserved output names — pre-existing
    * columns are overwritten. The result is eagerly materialized
    * (serialized checkpoint, the [[BudgetOps]] retention
    * contract) and the shuffle substrate released. */
  def proportionalInterleave(df0: DataFrame, stratumCol: String,
      idCol: String, weights: Map[String, Long],
      resolution: Long = 0L): DataFrame =
    interleaveImpl(df0, stratumCol, idCol, None, weights, resolution)

  /** Token-weighted interleave — the WFQ generalization of
    * [[proportionalInterleave]] to variable-size quanta (Demers,
    * Keshav & Shenker 1989 fair queueing / Parekh & Gallager 1993
    * GPS: a document "transmits" for its token count, so a stratum's
    * share of every PREFIX is proportional to w_s in TOKENS, not
    * docs — the property a mixture recipe stated in tokens actually
    * wants when document lengths differ by orders of magnitude).
    * Each doc's virtual time is the midpoint of its token interval
    * on the stratum's weighted clock:
    * `mix_key = floor((2·cum_prev + size)·M / (2·w_s))` with
    * cum_prev the stratum's exclusive token prefix in id order —
    * for size ≡ 1 this is EXACTLY the stride schedule (2k−1)/(2w),
    * so the doc-count operator is the special case. Same prefix
    * scan (it accumulates token sums beside the counts); same
    * post-pass overflow cap with the stratum token
    * TOTALS in place of ranks. `sizeCol` must be a non-negative
    * integral column; null or negative sizes fail loudly with the
    * offending stratum (a silent 0 would quietly starve a doc, a
    * silent wrap would scramble the order). */
  def proportionalInterleaveByTokens(df0: DataFrame, stratumCol: String,
      idCol: String, sizeCol: String, weights: Map[String, Long],
      resolution: Long = 0L): DataFrame =
    interleaveImpl(df0, stratumCol, idCol, Some(sizeCol), weights,
      resolution)

  private def interleaveImpl(df0: DataFrame, stratumCol: String,
      idCol: String, sizeCol: Option[String],
      weights: Map[String, Long], resolution: Long): DataFrame = {
    require(weights.nonEmpty && weights.valuesIterator.forall(_ > 0),
      "proportionalInterleave: weights must be positive")
    val df = df0.drop("mix_k", "mix_key", "seq")
    val spark = df.sparkSession
    import spark.implicits._
    val g = weights.valuesIterator.reduce(gcdL)
    val red = weights.map { case (s, w) => (s, w / g) }
    val m =
      if (resolution > 0L) resolution
      else commonResolution(red.values.map(2L * _).toSeq.distinct.sorted,
        1L << 42)

    val stratC = freshName("__strat", df.columns)
    val wC = freshName("__w", df.columns)
    val kC = freshName("__kexcl", df.columns)
    val cumC = freshName("__cum", df.columns)
    val seqC = freshName("__sexcl", df.columns)
    val wDf = red.toSeq.toDF(stratC, wC)

    // Pass A: per-stratum rank (and token prefix, sized variant)
    // without per-stratum reducers — a stratified prefix scan on
    // (stratum, id) of a count and the checked size.
    val sizeW = sizeCol.map(c => CheckNonNegative(col(c),
      "proportionalInterleaveByTokens", c, Some(col(stratC)),
      nullFails = true))
    val scanA = PrefixScan(df
        .withColumn(stratC, coalesce(col(stratumCol).cast("string"), lit("")))
        .join(broadcast(wDf), Seq(stratC)),
      Seq(col(idCol)), (kC -> lit(1L)) +: sizeW.map(cumC -> _).toSeq,
      stratum = Some(col(stratC)))
    try {
      // Overflow cap (r14 finding): per-stratum totals are now known,
      // so bound M such that U_max·M and 2·w_max·M both stay under
      // Long.MaxValue — the two largest intermediates of
      // mulDivFloorC's key arithmetic (U = rank for the doc-count
      // schedule, token total for the sized one; x ≤ 2·U either way).
      // Without this, many coprime small weights push the lcm M to
      // its 2^42 cap while w_s stays small, and (x div 2w)·M wraps
      // negative around x ≈ w·2^22.
      val uMax = math.max(1L, scanA.totals.valuesIterator
        .map(_.last).foldLeft(0L)(math.max))
      val wMax = red.valuesIterator.foldLeft(1L)(math.max)
      val mSafe = math.max(1L,
        math.min(m, Long.MaxValue / (2L * math.max(uMax, wMax))))

      // Virtual time, then pass B: global position by a count scan
      // over the (key, stratum, k) order.
      val keyCol = sizeCol match {
        case None => mulDivFloorC(
          col("mix_k") * 2 - 1, lit(mSafe), col(wC) * 2)
        case Some(sz) => mulDivFloorC(
          col(cumC) * 2 + col(sz).cast("long"), lit(mSafe),
          col(wC) * 2)
      }
      val scanB = PrefixScan(scanA.rows
          .withColumn("mix_k", col(kC) + 1L)
          .withColumn("mix_key", keyCol),
        Seq(col("mix_key"), col(stratC), col("mix_k")),
        Seq(seqC -> lit(1L)))
      try Materialize.checkpoint(scanB.rows
        .withColumn("seq", col(seqC) + 1L)
        .drop(stratC, wC, kC, cumC, seqC))
      finally scanB.release()
    } finally scanA.release()
  }
}
