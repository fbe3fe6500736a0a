package graft.text

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.operators.Materialize

/** Bounded-state heavy-hitter vocabulary — exact tokens above a
  * corpus-frequency threshold WITHOUT a full-vocabulary shuffle.
  *
  * [[TextOps.docFrequency]] (X8) answers "df/idf for every term"
  * with a full token groupBy: correct, but at 100 TB that shuffles
  * the whole token stream to build a table that is mostly hapax
  * legomena. When the question is only "which tokens exceed φ·N"
  * (stopword induction, vocabulary caps, spam-token discovery), the
  * scale-honest shape is the classic two-pass summary:
  *
  *  1. **Per-partition Misra–Gries** with k = ⌈den/num⌉ counters
  *     (one pass, bounded memory, no shuffle). Pigeonhole: a token
  *     with GLOBAL count > φ·N has count > φ·N_p in at least one
  *     partition p, and MG with k ≥ 1/φ − 1 counters keeps every
  *     such token — so the union of per-partition summaries is a
  *     SUPERSET of the true heavy hitters, at most k·partitions
  *     tokens (parameter-bounded; the driver collect is the same
  *     contract class as the IVF centroid collects).
  *  2. **Exact recount of candidates only**: every token maps to
  *     itself if it is a candidate, else to NULL, and ONE map-side-
  *     combining aggregate over ≤ k·P + 1 groups yields both the
  *     candidate counts and (via the NULL bucket) the exact corpus
  *     total N. The threshold is applied as the integer rational
  *     `n·den > N·num` — exact, no float division.
  *
  * The MG summary itself depends on partitioning, but it is used
  * ONLY as a superset filter; the recount decides membership, so the
  * RESULT is exact and partitioning-invariant (spec-pinned), and the
  * oracle is a plain GROUP BY/HAVING (q138). The token stream is
  * never shuffled — the only exchange carries the bounded group set.
  *
  * Reference scope: the reference pipeline has no vocabulary
  * operator; extends the engine's text-analysis family per the build
  * brief's training-data mandate (frequency-threshold vocabularies
  * are the C4/CCNet stopword-induction primitive). */
object VocabOps {

  /** Per-partition Misra–Gries summary: the ≤ k tokens that COULD
    * exceed a 1/(k+1) frequency share of this partition. Classic
    * decrement-all form; O(k) worst-case per step, O(1) amortized
    * (each decrement pays for an earlier admission). */
  private[graft] def mgSummary(it: Iterator[String], k: Int)
      : Iterator[String] = {
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    while (it.hasNext) {
      val t = it.next()
      counts.get(t) match {
        case Some(v) => counts(t) = v + 1
        case None if counts.size < k => counts(t) = 1L
        case None =>
          val dead = List.newBuilder[String]
          counts.foreach { case (key, v) =>
            if (v == 1L) dead += key else counts(key) = v - 1 }
          dead.result().foreach(counts.remove)
      }
    }
    counts.keysIterator
  }

  /** Exact heavy-hitter tokens of `docs(textCol)` under
    * [[TextOps.tokens]]: every token whose corpus count n satisfies
    * `n·den > N·num` (N = total token count, φ = num/den). Returns
    * (token, n_tok, n_total), one row per heavy hitter. */
  def heavyHitters(docs: DataFrame, textCol: String, num: Long,
      den: Long): DataFrame = {
    require(num > 0 && den > 0 && num < den,
      s"heavyHitters: need 0 < num/den < 1, got $num/$den")
    require(den / num <= 10_000_000L,
      s"heavyHitters: threshold $num/$den needs ${den / num} MG " +
        "counters PER PARTITION — below ~1e-7 this is no longer a " +
        "bounded-state summary; use docFrequency (the full groupBy) " +
        "for rare-token questions")
    val spark = docs.sparkSession
    import spark.implicits._
    val k = ((den + num - 1) / num).toInt // ⌈1/φ⌉ ≥ 1/φ − 1 counters
    // tokenize ONCE: the two passes are SEPARATE ACTIONS over the
    // full stream (no shared exchange to reuse), so the staged
    // checkpoint still wins even now that the fused tokenizer made
    // the pass itself cheap (r17 A/B at sf0.1: staged 0.98 s vs
    // recompute 1.12 s) — unlike single-action consumers on a shared
    // shuffle key, where removal won (firstOccurrenceNovelty, q148)
    val staged = Materialize.checkpoint(
      docs.select(TextOps.tokens(col(textCol)).as("__toks")))
    try heavyHittersStaged(staged, num, den, k)
    finally Materialize.release(staged)
  }

  private def heavyHittersStaged(staged: DataFrame, num: Long,
      den: Long, k: Int): DataFrame = {
    val spark = staged.sparkSession
    import spark.implicits._
    val toks: Dataset[String] =
      staged.select(explode(col("__toks")).as("token")).as[String]
    // pass 1: per-partition MG summaries; the driver collect is
    // k·P-row-bounded, so the per-partition guard on k alone is not
    // enough — at k = 1e7 with 32 partitions the candidate set could
    // reach 3.2e8 strings and OOM the driver despite the require.
    // Enforce a FIXED candidate-row budget by coalescing the token
    // stream (narrow, no shuffle) until k·P fits; each surviving
    // partition then runs one MG summary over more rows, which is
    // still one bounded map per task.
    val candidateBudget = 20_000_000L
    val p = toks.rdd.getNumPartitions
    val boundedToks =
      if (k.toLong * p <= candidateBudget) toks
      else toks.coalesce(math.max(1, (candidateBudget / k).toInt))
    val cands = boundedToks.mapPartitions(mgSummary(_, k))
      .distinct().collect().sorted
    if (cands.isEmpty) // degenerate: empty corpus ⇒ no heavy hitters
      return Seq.empty[(String, Long, Long)]
        .toDF("token", "n_tok", "n_total")
    val cdf = cands.toSeq.toDF("token").withColumn("__isc", lit(1))
    // pass 2: one aggregate over ≤ |cands| + 1 groups — candidates
    // count under their own token, everything else in the NULL
    // bucket, so sum(n) over the tiny grouped frame is exactly N.
    // The checkpoint is RETAINED (the returned frame reads it); it
    // holds ≤ k·P + 1 rows — parameter-bounded, the house rule for
    // tiny kept checkpoints (keylessIntervalHistogram's hist)
    val grouped = Materialize.checkpoint(toks.toDF("token")
      .join(broadcast(cdf), Seq("token"), "left")
      .groupBy(when(col("__isc").isNotNull, col("token")).as("token"))
      .agg(count(lit(1)).as("n_tok")))
    val nTotal = grouped.agg(sum("n_tok")).head().getLong(0)
    grouped.filter(col("token").isNotNull &&
        col("n_tok") * lit(den) > lit(nTotal) * lit(num))
      .withColumn("n_total", lit(nTotal))
  }
}
