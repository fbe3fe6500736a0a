package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.CheckNonNegative

/** Exact order statistics at corpus scale — the exact sibling of
  * [[graft.text.SampleOps.sampleRankCuts]] (which rank-cuts a
  * bounded SAMPLE; fine for bucketing heuristics, not for published
  * corpus statistics). `percentile_approx`/t-digest sketches are the
  * usual Spark answer but are engine-specific and non-reproducible
  * across implementations — this engine's oracle discipline wants
  * the EXACT value at the EXACT rank, bit-identical in any engine.
  *
  * Shape: one [[PrefixScan]] of a count on (value, id) — per-
  * partition counts (driver collect = one Long per partition) give
  * every row its `rank = excl + 1`, and only the hit ranks are kept.
  * No corpus-wide window, no driver-side sort, no collect beyond the
  * partition-count array and the |probs| result.
  *
  * Rank convention matches [[graft.text.SampleOps.sampleRankCuts]]:
  * the p-quantile is the value at 1-based rank `ceil(p·n)` under the
  * (value ASC, id ASC) total order, with p given as an exact integer
  * rational (num/den) so the rank arithmetic never touches floating
  * point: `ceil(n·num/den) = (n·num + den − 1) div den`, computed in
  * BigInt. NULL values are excluded (they have no rank); ties are
  * resolved by the id, making the result total-order deterministic
  * on any partitioning. */
object StatsOps {

  /** Exact quantiles of `valueCol` (numeric) at the rational
    * probabilities `probs` = (num, den) with 0 < num ≤ den. Returns
    * one row per prob: (p_num, p_den, rank, value). */
  def exactQuantiles(df: DataFrame, valueCol: String, idCol: String,
      probs: Seq[(Long, Long)]): DataFrame = {
    require(probs.nonEmpty &&
      probs.forall { case (n, d) => n > 0 && n <= d },
      s"exactQuantiles: malformed probs $probs")
    val scan = PrefixScan(df
        .filter(col(valueCol).isNotNull)
        .select(col(valueCol).cast("double").as("__v"),
          col(idCol).cast("long").as("__id")),
      Seq(col("__v"), col("__id")), Seq("__excl" -> lit(1L)))
    try {
      val n = scan.total(0)
      require(n > 0, s"exactQuantiles: no non-null '$valueCol' rows")
      // target 1-based ranks, exact ceil in BigInt; probs sharing a
      // rank each emit their own row
      val byRank: Map[Long, Seq[(Long, Long)]] =
        probs.groupBy { case (pn, pd) =>
          ((BigInt(n) * pn + pd - 1) / pd).toLong }
      Materialize.checkpoint(scan.rows
        .withColumn("rank", col("__excl") + 1L)
        .filter(col("rank").isin(byRank.keys.toSeq: _*))
        .select(explode(element_at(typedLit(byRank), col("rank"))).as("p"),
          col("rank"), col("__v").as("value"))
        .select(col("p._1").as("p_num"), col("p._2").as("p_den"),
          col("rank"), col("value")))
    } finally scan.release()
  }

  /** Quantile-bounded outlier filter — the length/perplexity tail
    * cut every published curation recipe applies (drop the shortest
    * and longest p% rather than guessing absolute bounds): keep rows
    * whose `valueCol` lies within [q(pLow), q(pHigh)] INCLUSIVE,
    * where both bounds are [[exactQuantiles]] values (exact rank,
    * engine-portable — an approx-percentile bound would make the
    * kept SET implementation-defined). Rows with NULL values drop
    * (they have no rank, and a curation filter that silently keeps
    * unmeasured rows is a bug factory).
    *
    * Cost shape: one [[exactQuantiles]] pass (range exchange +
    * bounded per-partition counts; the collect here is TWO rows),
    * then ONE narrow comparison pass over the input — the bounds are
    * plan literals, so the filter pushes into the scan. */
  def filterByQuantileRange(df: DataFrame, valueCol: String,
      idCol: String, pLow: (Long, Long), pHigh: (Long, Long))
      : DataFrame = {
    require(pLow._1 * pHigh._2 <= pHigh._1 * pLow._2,
      s"filterByQuantileRange: pLow $pLow > pHigh $pHigh")
    val qs = exactQuantiles(df, valueCol, idCol,
        if (pLow == pHigh) Seq(pLow) else Seq(pLow, pHigh))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val lo = qs(pLow)
    val hi = qs(pHigh)
    df.filter(col(valueCol).isNotNull &&
      col(valueCol).cast("double") >= lit(lo) &&
      col(valueCol).cast("double") <= lit(hi))
  }

  /** Mergeable rank/quantile sketch — the lake-telemetry companion
    * to [[exactQuantiles]] (which pays a corpus range exchange PER
    * CALL and cannot combine yesterday's answer with today's): a
    * log-bucketed histogram in the sketch family's register-exact
    * convention (the [[graft.text.SketchOps]] discipline — exact
    * integers out, float estimates reader-side, merge = the
    * operator's own roll-up).
    *
    * Buckets are DECIMAL, not binary or γ-logarithmic (DDSketch,
    * Masson et al. 2019, is the published shape; its `ceil(log_γ x)`
    * index crosses engines through float log, which this engine's
    * oracle discipline forbids): a nonnegative BIGINT value buckets
    * by its decimal rendering — `digits` = length(v as string),
    * `lead` = first `sigDigits` digits as an integer. Pure string
    * arithmetic, bit-identical in any engine (`length(v::VARCHAR)`,
    * `substr(v::VARCHAR, 1, s)::BIGINT`). Bucket order (digits,
    * lead) IS numeric order, and counts are exact, so the bucket
    * containing any requested rank is DETERMINISTICALLY correct —
    * the quantile's true value provably lies in the returned
    * [lo, hi) = [lead, lead+1)·10^(digits−len(lead)) — with relative
    * width ≤ 1/10^(sigDigits−1) (10% at the default 2; DDSketch
    * gives a similar relative-accuracy contract, probabilistically).
    *
    * Scale shape: one narrow pass + one (group, digits, lead)-keyed
    * map-side-combined aggregate — ≤ 19·10^sigDigits cells per group
    * (≈ 1.9k at the default), constant in corpus size like X76/X77.
    * Cells merge by SUM ([[mergeRankCells]]) and deltas subtract —
    * per-day sketches roll up without rescanning, the exact thing
    * [[exactQuantiles]] cannot do. A streaming tier needs no new
    * operator: sum-merged cells are the
    * [[graft.streaming.StreamingSketch.cmCells]] state shape.
    *
    * NULL values drop (no rank — the [[exactQuantiles]] convention);
    * a NEGATIVE value throws ([[CheckNonNegative]]): counts/lengths/
    * sizes are the domain, and silently folding sign into string
    * buckets would corrupt the order guarantee. */
  def rankSketchCells(df: DataFrame, valueCol: String,
      groupCol: String, sigDigits: Int = 2): DataFrame = {
    require(sigDigits >= 1 && sigDigits <= 4, s"sigDigits=$sigDigits")
    val v = col(valueCol).cast("long")
    val s = CheckNonNegative(v, s"rankSketchCells($valueCol)", "value")
      .cast("string")
    df.filter(v.isNotNull)
      .select(coalesce(col(groupCol).cast("string"), lit(""))
          .as("group"),
        length(s).as("digits"),
        substring(s, 1, sigDigits).cast("long").as("lead"))
      .groupBy("group", "digits", "lead")
      .agg(count(lit(1)).as("n"))
  }

  /** Merge rank-sketch cell frames by cell-wise sum — the additive
    * roll-up (union-exact: merging sketches of A and B yields the
    * sketch of A ⊎ B cell-for-cell). */
  def mergeRankCells(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("group", "digits", "lead")
      .agg(sum(col("n")).as("n"))

  /** Reader-side quantile bounds from one group's cells: the [lo,
    * hi) value range of the bucket holding 1-based rank
    * `ceil(p·n)` under the sketch's total order — the true
    * p-quantile provably lies inside (counts exact, bucket order
    * numeric). Driver-side — deliberately NOT oracle-checked, like
    * [[graft.text.SketchOps.hllEstimate]]. */
  def rankSketchQuantile(cells: Seq[(Int, Long, Long)], p: Double)
      : (Long, Long) = {
    require(p > 0.0 && p <= 1.0, s"p=$p")
    require(cells.nonEmpty, "rankSketchQuantile: empty sketch")
    val sorted = cells.sortBy { case (d, l, _) => (d, l) }
    val n = sorted.iterator.map(_._3).sum
    val target = math.max(1L, math.ceil(p * n).toLong)
    var cum = 0L
    for ((d, l, c) <- sorted) {
      cum += c
      if (cum >= target) {
        var scale = 1L
        var e = d - l.toString.length
        while (e > 0) { scale *= 10L; e -= 1 }
        // lo cannot overflow (a bucket only exists for values that
        // fit in a long, and lo ≤ the smallest such value), but hi =
        // (lead+1)·scale can at 19 digits (lead 92 → 93·10^17 >
        // Long.Max, ADVICE r18): clamp to Long.MaxValue — the true
        // quantile still lies in [lo, Long.MaxValue].
        val hi =
          try Math.multiplyExact(l + 1, scale)
          catch { case _: ArithmeticException => Long.MaxValue }
        return (l * scale, hi)
      }
    }
    throw new IllegalStateException("rank walk exhausted") // unreachable
  }
}
