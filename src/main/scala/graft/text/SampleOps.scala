package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.CheckNonNegative
import graft.operators.Materialize
import graft.operators.PrefixScan
import graft.operators.PrefixScan.freshName

/** Deterministic sampling / splitting / ordering primitives for
  * training-data pipelines: data mixing (per-source rates),
  * train/val/test assignment, and reproducible global shuffles.
  *
  * Everything here is HASH-based, never `rand()`-based: a row's fate
  * depends only on (salt, id), so the selection is identical on any
  * cluster size, any partitioning, any retry, and any engine — the
  * properties a 100 TB ingestion run actually needs (re-runs must not
  * silently change the training set, and an auditor must be able to
  * re-derive membership). `df.sample()` guarantees none of that: its
  * Bernoulli draw is seeded per-partition, so the selected set changes
  * with the partition layout. The hash coordinate is md5-derived like
  * the MinHash/SimHash family ([[TextOps.seededHash32]]) to stay
  * engine-portable; md5 is evaluated once per row, which is noise next
  * to the scan it filters.
  *
  * Scale shapes: fraction/stratified sampling and split assignment are
  * pure narrow expressions (no shuffle — the filter rides the scan and
  * pushes into the parquet reader when `id` is a stored column);
  * stratified rates broadcast as a tiny dimension; the deterministic
  * shuffle is one range sort, the same cost as any global `orderBy`.
  */
object SampleOps {

  /** Uniform [0, 1) coordinate for (salt, id): the first 8 hex digits
    * of `md5(salt ":" id)` as a 32-bit unsigned integer / 2^32. The
    * division scales by a power of two, so the double is exact and
    * bit-identical in any IEEE-754 engine (DuckDB mirror:
    * `('0x' || substr(md5(salt || ':' || id), 1, 8))::BIGINT
    * / 4294967296.0`). Distinct salts give independent draws — a row's
    * sampling fate never correlates with its split assignment. */
  def hashCoord(id: Column, salt: String): Column =
    conv(substring(md5(concat(lit(salt + ":"), id.cast("string"))), 1, 8),
      16, 10).cast("long").cast("double") / 4294967296.0

  /** Keep each row with probability `rate`, deterministically in the
    * row's `idCol`. Narrow (no shuffle); reproducible on re-run. */
  def sampleFraction(df: DataFrame, idCol: String, rate: Double,
      salt: String): DataFrame =
    df.filter(hashCoord(col(idCol), salt) < rate)

  /** Data mixing: per-stratum sampling rates (e.g. upweight curated
    * sources, downweight crawl), unknown strata fall back to
    * `defaultRate`. The rate table broadcasts — strata cardinality is
    * tiny (sources, languages) by construction. */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
      rates: Map[String, Double], defaultRate: Double, salt: String)
      : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rateDf = rates.toSeq.toDF(strataCol, "__rate")
    df.join(broadcast(rateDf), Seq(strataCol), "left")
      .filter(hashCoord(col(idCol), salt) <
        coalesce(col("__rate"), lit(defaultRate)))
      .drop("__rate")
  }

  /** Train/val/test (or any) split assignment: `splits` are
    * (name, weight) with weights summing to 1; a row lands in the
    * split whose cumulative-weight interval contains its coordinate.
    * The last split absorbs the remainder, so rounding in the
    * cumulative sums can never leave a row unassigned. */
  def assignSplit(id: Column, splits: Seq[(String, Double)],
      salt: String): Column = {
    require(splits.nonEmpty, "assignSplit needs at least one split")
    val c = hashCoord(id, salt)
    val cuts = splits.init.scanLeft(0.0)(_ + _._2).tail
    splits.init.zip(cuts)
      .foldLeft(Option.empty[Column]) { case (acc, ((name, _), cut)) =>
        val branch = when(c < cut, name)
        Some(acc.fold(branch)(a => a.when(c < cut, name)))
      }
      .fold(lit(splits.last._1))(_.otherwise(splits.last._1))
  }

  /** Reproducible global shuffle: order rows by their hash coordinate
    * (id as the tiebreak makes the order total). One range sort —
    * exactly what a training-data writer needs before sharding so
    * every re-run emits identical shards. */
  def deterministicOrder(df: DataFrame, idCol: String,
      salt: String): DataFrame =
    df.orderBy(hashCoord(col(idCol), salt), col(idCol))

  /** Epoch-weighted oversampling: emit each row `floor(w)` times plus
    * one more copy when the row's hash coordinate falls below
    * `frac(w)` — the deterministic version of "3.25 epochs of curated
    * sources, 0.5 of crawl" in a training-mix recipe. Weights come
    * per stratum (broadcast, like [[stratifiedSample]]); unknown
    * strata get `defaultWeight`; weight 0 drops the stratum. Output
    * rows carry a `copy` index (0-based) so a downstream
    * [[deterministicOrder]] or shard write can spread the copies
    * instead of co-locating them. Prefer dyadic fractional parts
    * (.5, .25, .75...) — exactly representable, so the
    * coordinate-vs-fraction comparison is bit-identical in any
    * IEEE-754 engine. Narrow except the broadcast: the explode factor
    * is the mean weight, no shuffle. */
  def oversample(df: DataFrame, idCol: String, strataCol: String,
      weights: Map[String, Double], defaultWeight: Double,
      salt: String): DataFrame = {
    require((defaultWeight +: weights.values.toSeq).forall(_ >= 0),
      "oversample weights must be non-negative")
    val spark = df.sparkSession
    import spark.implicits._
    val wDf = weights.toSeq.toDF(strataCol, "__w")
    val w = coalesce(col("__w"), lit(defaultWeight))
    val copies = (floor(w) +
      when(hashCoord(col(idCol), salt) < (w - floor(w)), 1L)
        .otherwise(0L)).cast("long")
    // NOTE: sequence(0, -1) is a DESCENDING [0, -1] in Spark, not
    // empty — zero-copy rows must take the empty-array branch or they
    // would leak one copy through the explode.
    df.join(broadcast(wDf), Seq(strataCol), "left")
      .withColumn("copy",
        explode(when(copies > 0, sequence(lit(0L), copies - 1))
          .otherwise(array().cast("array<long>"))))
      .drop("__w")
  }

  /** Deterministic shard assignment: `floor(hashCoord * nShards)` in
    * [0, nShards). Like every SampleOps primitive the assignment
    * depends only on (salt, id) — identical on any cluster, any
    * partitioning, any engine. Prefer power-of-two shard counts: the
    * coordinate is an exact dyadic double, so scaling by 2^k and
    * flooring is bit-exact in every IEEE-754 engine (a non-power-of-2
    * multiplier rounds, and a coordinate sitting exactly on a shard
    * boundary could in principle land differently — power-of-two
    * counts close that door outright). */
  def shardOf(id: Column, nShards: Int, salt: String): Column = {
    require(nShards > 0, "nShards must be positive")
    floor(hashCoord(id, salt) * nShards).cast("int")
  }

  /** Order-invariant per-shard manifest: `shard`, `n_docs`,
    * `content_xor` (XOR of a 32-bit md5-derived hash of each
    * (id, content-hash) pair, carried in a long), `n_chars`. XOR is
    * commutative/associative, so the aggregation is distributive with
    * O(1) state per shard — a manifest over a billion-doc shard costs
    * the same per-row work as over a thousand-doc one, unlike any
    * ordered streaming hash (which would need a sequential pass or an
    * unbounded collect). A lost, duplicated, or altered row flips
    * count, xor, or chars; what the xor deliberately does NOT pin is
    * row ORDER, which shard files do not guarantee anyway.
    * `contentCol` is hashed with md5 for engine parity. */
  def shardManifest(df: DataFrame, idCol: String, contentCol: String,
      nShards: Int, salt: String): DataFrame =
    manifestOver(df.withColumn("shard",
      shardOf(col(idCol), nShards, salt)), "shard", idCol, contentCol)

  /** [[shardManifest]] grouped on an EXISTING shard column — use this
    * over read-back shard files (the shard value comes from the
    * directory layout, so a mis-assigned writer shows up as a
    * manifest mismatch rather than being papered over by
    * recomputation). */
  def manifestOver(df: DataFrame, shardCol: String, idCol: String,
      contentCol: String): DataFrame =
    df.select(
        col(shardCol).cast("int").as("shard"),
        conv(substring(md5(concat(lit("mf:"), col(idCol).cast("string"),
          lit(":"), md5(col(contentCol)))), 1, 8), 16, 10)
          .cast("long").as("__h"),
        length(col(contentCol)).cast("long").as("__len"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        expr("bit_xor(__h)").as("content_xor"),
        sum(col("__len")).as("n_chars"))

  /** Write the corpus as deterministic shards (`shard=N/` parquet
    * partitions under `outDir`) and return the manifest of what was
    * ACTUALLY written: the returned DataFrame is [[manifestOver]] the
    * read-back files, grouped on the directory-layout shard value —
    * so a write fault (lost task commit, silent corruption) or a
    * mis-assigning writer surfaces as a manifest mismatch against
    * [[shardManifest]] of the source, never self-certifies. Rows are
    * pre-shuffled on the shard key so each shard's files come from
    * one task wave; within-file order is not part of the contract
    * (the manifest is order-invariant). Re-runs produce
    * byte-identical membership on any cluster size. */
  def writeShards(df: DataFrame, idCol: String, contentCol: String,
      outDir: String, nShards: Int, salt: String): DataFrame = {
    val sharded = df
      .withColumn("shard", shardOf(col(idCol), nShards, salt))
      .repartition(nShards, col("shard"))
    sharded.write.mode("overwrite").partitionBy("shard").parquet(outDir)
    manifestOver(df.sparkSession.read.parquet(outDir), "shard",
      idCol, contentCol)
  }

  /** Exact-count mixing: the deterministic k lowest-coordinate rows of
    * each stratum ("exactly k docs per source"), the fixed-quota
    * counterpart of [[stratifiedSample]]'s rates. A reproducible
    * stand-in for per-stratum reservoir sampling: one shuffle on the
    * stratum key, rank within partitions (strata are many and
    * hash-balance; a single stratum's rows land on one executor, so
    * quota-sample EXTREMELY skewed strata in two stages — pre-thin
    * with [[sampleFraction]], then quota). */
  def takePerStratum(df: DataFrame, idCol: String, strataCol: String,
      k: Int, salt: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
      .orderBy(hashCoord(col(idCol), salt), col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** Deterministic quantile cuts WITHOUT a global sort: exact
    * rank-quantiles of a [[hashCoord]]-deterministic ~`sampleSize`-row
    * sample of the non-null `valueCol` values. The cut for prob p is
    * the sample value at 1-based rank ceil(p·m) under the
    * (value, id) total order — a rank statistic, not an interpolated
    * percentile, so any engine reproduces it bit-for-bit (interpolated
    * quantile definitions differ across engines; ranks don't).
    *
    * Scale shape: one count action for the sampling rate, then a
    * narrow hash filter and a collect whose size concentrates at the
    * PARAMETER `sampleSize` regardless of corpus size (binomial, not
    * proportional). The alternative — exact corpus quantiles — is a
    * global sort; a sample this size bounds the cut's rank error at
    * ~1/sqrt(sampleSize) quantile mass, the classic trade.
    * Deterministic given (corpus, salt): re-runs and re-partitions
    * see the same sample, so the same cuts. */
  def sampleRankCuts(df: DataFrame, valueCol: String, idCol: String,
      probs: Seq[Double], sampleSize: Int, salt: String = "qs")
      : Seq[Double] = {
    require(probs.nonEmpty && probs.forall(p => p > 0.0 && p <= 1.0),
      s"probs=$probs")
    require(sampleSize > 0, s"sampleSize=$sampleSize")
    val n = df.count()
    val rate = if (n == 0) 1.0 else math.min(1.0, sampleSize.toDouble / n)
    val sample = df
      .filter(col(valueCol).isNotNull &&
        hashCoord(col(idCol), salt) < rate)
      .select(col(valueCol).cast("double"), col(idCol).cast("long"))
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
      .sorted
    require(sample.nonEmpty,
      s"sampleRankCuts: no non-null '$valueCol' rows sampled")
    val m = sample.length
    probs.map(p => sample(math.ceil(p * m).toInt - 1)._1)
  }

  /** Systematic probability-proportional-to-size sample (Madow 1949,
    * the classical survey-sampling systematic PPS) — the WEIGHTED
    * tier of the sampling family: "k draws proportional to
    * quality/length/score", the corpus-subselection primitive behind
    * quality-weighted training mixes. k grid points sit at rational
    * positions (s + j·W)/k (j = 0..k−1) over the corpus laid out in
    * [[hashCoord]] order with exact cumulative integer weights (the
    * [[PackOps.packOffsets]] prefix scan — no corpus-wide
    * window); a row whose [start, end) weight interval contains m
    * grid points is emitted with `n_hits` = m. The start s ∈ [0, W)
    * is the salt's md5 (first 15 hex digits mod W — a plan literal
    * the oracle recomputes in SQL), realizing Madow's random start
    * deterministically, so inclusion probability is exactly w·k/W
    * for w ≤ W/k under the start randomization; a heavier row is
    * ALWAYS selected, with multiplicity (the with-replacement-like
    * n_hits PPS assigns oversize units). Σ n_hits = k exactly — the
    * grid partitions [0, W).
    *
    * Why not Efraimidis–Spirakis exponential keys (the usual
    * weighted-sample-without-replacement answer): it ranks by
    * ln(u)/w — transcendental floats whose libm differences break
    * cross-engine replay on near-ties. Systematic PPS needs only
    * integer div over exact prefix sums, so the oracle replays every
    * selection verbatim.
    *
    * Scale shape: one narrow weight-sum pass, the packOffsets range
    * shuffle + two per-partition scans (driver traffic = one row per
    * partition), then a narrow integer filter. RETAINS the pack
    * substrate (the [[PackOps]] contract — call
    * `PackOps.releaseSubstrates()` once results are consumed).
    * Weights: nonnegative integers; NULL counts as 0 (never
    * selected); negative throws. Grid hit-counts compute in
    * DECIMAL(38,0) (DuckDB replays as HUGEINT), so W·k needs no
    * 64-bit headroom — token-weighted sampling at real corpus totals
    * (W ≈ 10¹³ tokens × k ≈ 10⁸ draws) runs without rescaling; only
    * W itself must fit a long (the packOffsets prefix substrate),
    * and W·k ≤ ~8.5×10³⁷ < 10³⁸ holds for ALL long inputs.
    *
    * Returns the selected rows: input columns + `n_hits` (long ≥ 1). */
  def samplePpsSystematic(df: DataFrame, idCol: String,
      weightCol: String, k: Long, salt: String): DataFrame = {
    require(k >= 1, s"samplePpsSystematic: k=$k")
    val staged = df.withColumn("__w", coalesce(CheckNonNegative(
      col(weightCol), s"samplePpsSystematic($weightCol)", "weight"), lit(0L)))
    // coalesce: an empty input (or all-null weights) sums to NULL —
    // fold to 0 so the require below fires with the designed
    // diagnostic instead of a generic null-value error (ADVICE r18).
    val totW = staged.agg(coalesce(sum(col("__w")), lit(0L)))
      .head().getLong(0)
    require(totW > 0, "samplePpsSystematic: total weight is 0")
    val s = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"pps:$salt".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.substring(0, 15), 16) % totW
    }
    // hits = #{j in [0,k): start*k <= s + j*W < end*k}
    //      = ceilDiv(end*k - s, W) - ceilDiv(start*k - s, W);
    // numerators are >= -s > -W, so the (a + W - 1) div W form is
    // exact (the sum is nonnegative, div == floor). The off*k
    // products compute in DECIMAL(38,0): W·k overflows a long at
    // real corpus totals (W ≈ 10¹³ × k ≈ 10⁸), while 38 digits hold
    // the worst case for all long inputs (< 8.6×10³⁷); the integral
    // div quotient is ≤ k, back in long range.
    graft.text.PackOps.packOffsets(staged, idCol, "__w", salt)
      .withColumn("n_hits",
        expr(s"cast((cast(end_off as decimal(38,0)) * ${k}L - ${s}L" +
          s" + ${totW - 1}L) div ${totW}L" +
          s" - (cast(start_off as decimal(38,0)) * ${k}L - ${s}L" +
          s" + ${totW - 1}L) div ${totW}L as bigint)"))
      .filter(col("n_hits") > 0)
      .drop("__w", "start_off", "end_off")
  }

  /** EXACT-count stratified sample: keep exactly
    * `floor(n_s·num/den)` rows of each stratum — the rows whose hash
    * coordinate ranks lowest within the stratum (ties by id).
    * [[stratifiedSample]] keeps each row independently at its rate,
    * so per-stratum counts carry binomial noise (±√n_s); a mixture
    * recipe stated as exact counts ("exactly one third of every
    * source") needs the rank cut. Deterministic in (salt, id) like
    * everything here — membership is partition- and re-run-invariant
    * and auditor-re-derivable.
    *
    * Scale shape: one stratified [[graft.operators.PrefixScan]] of
    * a count on (stratum, coord, id) — a hot stratum spans
    * partitions instead of hitting one reducer — with
    * `sample_rank = excl + 1` and `sampled` against a literal
    * per-stratum budget map. Fractions are
    * integer rationals; budgets compute in BigInt. Unknown strata
    * use `defaultNum/defaultDen`; NULL strata fold to "". Returns
    * EVERY row plus `sample_rank` (1-based within-stratum hash rank)
    * and `sampled` — the audit-frame convention; filter on `sampled`
    * for the sample itself. Result eagerly checkpointed. */
  def stratifiedSampleExact(df0: DataFrame, idCol: String,
      strataCol: String, fracs: Map[String, (Long, Long)],
      defaultNum: Long, defaultDen: Long, salt: String): DataFrame = {
    require(defaultDen > 0 && defaultNum >= 0 &&
      fracs.valuesIterator.forall { case (n, d) => d > 0 && n >= 0 },
      s"stratifiedSampleExact: malformed fractions")
    val stratC = freshName("__strat", df0.columns)
    val hC = freshName("__h", df0.columns)
    val exclC = freshName("__excl", df0.columns)
    val scan = PrefixScan(df0.drop("sample_rank", "sampled")
        .withColumn(stratC, coalesce(col(strataCol).cast("string"),
          lit("")))
        .withColumn(hC, hashCoord(col(idCol), salt)),
      Seq(col(hC), col(idCol)), Seq(exclC -> lit(1L)),
      stratum = Some(col(stratC)))
    try {
      val budgets = scan.totals.map { case (s, t) =>
        val (num, den) = fracs.getOrElse(s, (defaultNum, defaultDen))
        s -> (BigInt(t(0)) * num / den).toLong
      }
      Materialize.checkpoint(scan.rows
        .withColumn("sample_rank", col(exclC) + 1L)
        .withColumn("sampled", col("sample_rank") <= coalesce(
          try_element_at(typedLit(budgets), col(stratC)), lit(0L)))
        .drop(stratC, hC, exclC))
    } finally scan.release()
  }

  /** Leakage-safe train/val/test split: assign whole GROUPS (URL
    * domains, near-dup components, sources) to splits, so correlated
    * documents can never straddle a train/eval boundary — the
    * contamination failure the dedup literature warns about
    * (training near-duplicates of eval docs; cf. the q65
    * contamination checker, which DETECTS what this op PREVENTS).
    * [[assignSplit]] cuts per DOCUMENT and hash-proportionally; this
    * cuts per GROUP and EXACTLY: groups order by their hash
    * coordinate (total order, ties by group), sizes (doc counts, or
    * `sizeCol` sums — e.g. chars/tokens) accumulate in that order,
    * and split i takes every group whose EXCLUSIVE prefix lands
    * below the integer cut `floor(total·cumNum_i/cumDen_i)` — exact
    * rational arithmetic, so two engines agree bit-for-bit. A group
    * straddling a cut lands wholly in the earlier split: per-cut
    * deviation is bounded by the largest group size, the price of
    * leakage safety. Fractions are integer rationals (the repo's
    * exactness convention) and must sum to exactly 1.
    *
    * Scale shape: one map-side-combining groupBy (group table, may be
    * corpus-scale — near-dup components are), one range exchange over
    * the group table for the [[graft.operators.PrefixScan]] of the
    * sizes (driver collect = one sum per partition; `split` is a
    * CASE over the integer cuts), and one SHUFFLE_HASH-pinned
    * join back to the corpus — the group table is corpus-derived and
    * must never be estimate-broadcast. NULL groups fold to "" (the
    * [[graft.text.MixOps]] convention). Returns every input row plus
    * `split`. */
  def groupSplit(df: DataFrame, groupCol: String,
      splits: Seq[(String, Long, Long)], salt: String,
      sizeCol: Option[String] = None): DataFrame = {
    require(splits.nonEmpty, "groupSplit needs at least one split")
    require(splits.forall { case (_, n, d) => n >= 0 && d > 0 },
      s"groupSplit: malformed fractions $splits")
    val one = splits.map { case (_, n, d) => BigInt(n) * splits.map(_._3)
      .product / d }.sum
    require(one == BigInt(splits.map(_._3).product),
      s"groupSplit fractions must sum to exactly 1: $splits")
    val out = df.withColumn("__g",
      coalesce(col(groupCol).cast("string"), lit("")))
    val szAgg = sizeCol match {
      case None => count(lit(1)).cast("long").as("__sz")
      case Some(c) => sum(col(c).cast("long")).as("__sz")
    }
    // the substrate is the GROUP table (one row per group), so the
    // scan sizes its partitions on it, not on the corpus
    val scan = PrefixScan(out.groupBy("__g").agg(szAgg)
        .withColumn("__h", hashCoord(col("__g"), salt)),
      Seq(col("__h"), col("__g")), Seq("__excl" -> col("__sz")))
    try {
      val total = scan.total(0)
      // integer cuts from cumulative fractions, exact in BigInt on
      // the driver; a group goes to the first split whose cut its
      // exclusive prefix is below, and the last split takes the rest,
      // so rounding can never leave a group unassigned
      val cuts: Seq[Long] = {
        var cn = BigInt(0); var cd = BigInt(1)
        splits.init.map { case (_, n, d) =>
          cn = cn * d + BigInt(n) * cd; cd = cd * d
          (BigInt(total) * cn / cd).toLong
        }
      }
      val split = splits.init.zip(cuts)
        .foldLeft(Option.empty[Column]) { case (acc, ((name, _, _), cut)) =>
          val c = col("__excl") < cut
          Some(acc.fold(when(c, name))(_.when(c, name)))
        }
        .fold(lit(splits.last._1))(_.otherwise(splits.last._1))
      val assignment = scan.rows.select(col("__g"), split.as("split"))
      Materialize.checkpoint(
        out.join(assignment.hint("shuffle_hash"), Seq("__g")).drop("__g"))
    } finally scan.release()
  }

}
