package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Materialize

/** Data Selection via Importance Resampling — DSIR (Xie et al. 2023,
  * arXiv:2302.03169): pick the corpus subset that looks most like a
  * small trusted target set, by importance weights between two
  * bag-of-hashed-ngrams distributions. The reference pipeline has no
  * data-selection stage; this is LLM-corpus extension surface.
  *
  * Model, exactly mirrorable in SQL:
  *   - features: unigrams AND adjacent-bigram strings ("v w") of
  *     [[TextOps.tokens]], hashed into `buckets` cells by the
  *     md5-portable [[TextOps.seededHash32]] mod B.
  *   - distributions: add-one-smoothed bucket frequencies of the
  *     TARGET set (p̂) and of the RAW corpus itself (q̂):
  *     p̂[b] = (c_p[b]+1)/(T_p+B).
  *   - per-bucket log-ratio λ_b = ln(p̂[b]/q̂[b]), computed as
  *     ln((c_p+1)/(T_p+B) / ((c_q+1)/(T_q+B))) — a pinned
  *     divide-divide-divide-ln sequence that both engines evaluate
  *     identically (no wide integer products that could exceed 2^53
  *     at corpus scale), quantized to MICRO units as BIGINT (the
  *     [[LmOps]] determinism convention).
  *   - doc weight: log w = Σ_b c_doc[b]·λ_b — a BIGINT sum, exact
  *     and summation-order-invariant.
  *   - Gumbel top-k (the paper's sampling-without-replacement): key =
  *     log w + g with g = −ln(−ln(u)); u is the md5-coordinate
  *     (h32 + 0.5)/2^32 — strictly inside (0,1) so neither ln can hit
  *     0, deterministic, partition-layout- and engine-invariant.
  *     Selection is by (key_micro DESC, id ASC), a total order.
  *
  * Scale shape (100 TB corpus):
  *   - feature stream compresses immediately: groupBy (doc, bucket)
  *     with map-side combine — ≤ B distinct buckets per doc.
  *   - both distributions are B-row tables where B is a PARAMETER
  *     (10⁴-ish), so the λ table is broadcast-correct by construction
  *     — unlike vocab-sized LM tables, which must shuffle.
  *   - top-k selection never global-sorts and never global-windows:
  *     the k-th key is found with orderBy+limit(k) (Spark plans
  *     TakeOrderedAndProject — per-partition partial top-k, driver
  *     merge of k·P candidates), a collect bounded by the parameter
  *     k; every row is then flagged against that threshold with a
  *     narrow comparison. The full corpus keeps its audit columns.
  */
object DsirOps {

  private val MicroScale = 1e6

  /** Per-doc bucket counts: (idCol, bucket, n) — the compressed
    * feature stream, with NO exchange at all: the tokenizer runs once
    * per doc in its own projection (codegen'd regexp land), and
    * feature construction + hashing + per-doc counting run as ONE
    * fused kernel ([[graft.functions.HashedNgrams]]) whose exploded
    * output IS the final counts table, bit-identical to the
    * relational seededHash32-mod-B + groupBy formulation it replaced.
    * Two HOF formulations were measured and rejected: an UNstaged
    * lambda re-tokenized the full text per element — O(n_tokens ×
    * text_len) per doc, 126 s for q89 at sf0.1 (the r10
    * scale-killer) — and the staged version still paid ~3-5 us
    * interpretation per feature occurrence plus a groupBy exchange to
    * merge map-side partials. */
  def hashedNgramCounts(df: DataFrame, idCol: String, textCol: String,
      buckets: Int, seed: Int): DataFrame =
    df.select(col(idCol), TextOps.tokens(col(textCol)).as("__tk"))
      .select(col(idCol),
        explode(graft.functions.HashedNgrams.featureBucketCounts(
          col("__tk"), buckets, seed)).as("bc"))
      .select(col(idCol), col("bc.bucket").as("bucket"), col("bc.n").as("n"))

  /** Importance weights of every `corpus` doc against `target`:
    * (idCol, n_feat, logw_micro). Smoothed bucket distributions are
    * fit on target (p̂) and on the corpus itself (q̂).
    *
    * `reuseCounts=false` skips the corpus-sized checkpoint and
    * recomputes featurization per consumer (3×) — the right trade
    * when the (id, bucket, n) frame would dwarf cluster storage.
    * Checkpoint caveats at scale: the checkpoints are local
    * [[graft.operators.Materialize]] checkpoints (serialized, lineage
    * cut), so a lost executor fails the job with
    * `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND` instead of recomputing; on a
    * preemptible cluster prefer `reuseCounts=false`. */
  def importanceWeights(corpus: DataFrame, target: DataFrame,
      idCol: String, textCol: String, buckets: Int = 1024,
      seed: Int = 7, reuseCounts: Boolean = true): DataFrame = {
    require(buckets > 0, s"buckets=$buckets")
    // corpusCounts feeds the q̂-total action, the λ table, AND the
    // per-doc weight join — checkpoint (eager) so featurization
    // runs once, not once per action. The checkpoint holds only
    // (id, bucket, n) — ≤ B buckets per doc, never the text (the
    // same contract as LmOps.perplexityBuckets' scoring frame).
    val rawCounts = hashedNgramCounts(corpus, idCol, textCol,
      buckets, seed)
    val corpusCounts =
      if (reuseCounts) Materialize.checkpoint(rawCounts)
      else rawCounts

    // ≤ B rows by construction — eager checkpoint makes the total
    // action free and lets the λ join read the same materialization
    // instead of re-aggregating (the target side would otherwise
    // re-featurize for each consumer).
    def dist(counts: DataFrame): (DataFrame, Long) = {
      val byBucket = Materialize.checkpoint(
        counts.groupBy("bucket").agg(sum("n").as("c")))
      val total = byBucket.agg(coalesce(sum("c"), lit(0L))).head().getLong(0)
      (byBucket, total)
    }
    val (pTab, tP) = dist(hashedNgramCounts(target, idCol, textCol,
      buckets, seed))
    val (qTab, tQ) = dist(corpusCounts)

    // λ per bucket, micro-quantized BIGINT. B rows by construction —
    // the one table in this operator that is CORRECT to broadcast.
    // Its own join is pinned: only an explicit broadcast() broadcasts.
    val lam = qTab.join(pTab.withColumnRenamed("c", "c_p")
        .hint("shuffle_hash"), Seq("bucket"), "left")
      .select(col("bucket"),
        floor(log(
          ((coalesce(col("c_p"), lit(0L)) + 1.0)
            / lit(tP.toDouble + buckets)) /
          ((col("c") + 1.0) / lit(tQ.toDouble + buckets)))
          * MicroScale + 0.5).cast("long").as("lam_micro"))

    val perDoc = corpusCounts
      .join(broadcast(lam), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(sum("n").as("n_feat"),
        sum(col("n") * col("lam_micro")).as("logw_micro"))

    corpus.select(col(idCol))
      .join(perDoc.hint("shuffle_hash"), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_feat"), lit(0L)).as("n_feat"),
        coalesce(col("logw_micro"), lit(0L)).as("logw_micro"))
  }

  /** Full DSIR selection: importance weights + deterministic Gumbel
    * perturbation + top-k flag. Returns every corpus row:
    * (idCol, n_feat, logw_micro, g_micro, key_micro, selected) —
    * filter `selected` for the resampled corpus, keep the rest as
    * the audit trail. `salt` varies the Gumbel draw. */
  def dsirSelect(corpus: DataFrame, target: DataFrame, k: Int,
      idCol: String, textCol: String, buckets: Int = 1024,
      seed: Int = 7, salt: String = "g"): DataFrame = {
    require(k > 0, s"k=$k")
    val u = (TextOps.seededHash32(
      concat(lit(salt), lit(":"), col(idCol).cast("string")), seed)
      + 0.5) / 4294967296.0
    // keyed is consumed twice — the kth top-k collect and the final
    // selected-flag materialization. checkpoint (eager) holds
    // the 5 bounded numeric columns + id, so the weighting pipeline
    // (two shuffles + the λ join) runs once, not per action.
    val keyed = Materialize.checkpoint(importanceWeights(corpus, target,
        idCol, textCol, buckets, seed)
      .withColumn("g_micro",
        floor(-log(-log(u)) * MicroScale + 0.5).cast("long"))
      .withColumn("key_micro", col("logw_micro") + col("g_micro")))

    // k-th threshold under (key DESC, id ASC): a parameter-bounded
    // driver merge (TakeOrderedAndProject), never a global sort.
    val kth = keyed.orderBy(col("key_micro").desc, col(idCol).asc)
      .select(col("key_micro"), col(idCol)).limit(k)
      .collect()
    if (kth.isEmpty) keyed.withColumn("selected", lit(false))
    else {
      val last = kth.last
      val (kKey, kId) = (last.getLong(0), last.getLong(1))
      keyed.withColumn("selected",
        (col("key_micro") > kKey) ||
          (col("key_micro") === kKey && col(idCol) <= kId))
    }
  }
}
