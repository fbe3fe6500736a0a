package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Materialize

/** N-gram language-model perplexity scoring — the CCNet-style corpus
  * quality signal (Wenzek et al. 2020: docs are binned by the
  * perplexity of a small LM trained on a trusted reference corpus;
  * KenLM in the paper, an interpolated bigram model here). The
  * reference pipeline has no LM scoring; this is part of the
  * LLM-corpus extension surface (builder brief).
  *
  * Model (deliberately simple, exactly mirrorable in ANSI SQL so the
  * whole chain is oracle-checkable):
  *
  *   - tokens: [[TextOps.tokens]] (lowercased [a-z0-9]+ stream);
  *     every position i scores token w_i against context v = w_{i-1},
  *     with a `<s>` sentinel context at i=1 (`<` can never appear in
  *     a normalized token, so the sentinel cannot collide).
  *   - unigram: add-one-smoothed over the reference vocabulary with
  *     one reserved unseen type, p_uni(w) = (c(w)+1) / (T+V+1) —
  *     strictly positive for any w, so log p is always defined.
  *   - bigram: maximum-likelihood p_ml(w|v) = c(v,w) / c(v·) where
  *     c(v·) counts positions whose context is v (including v=`<s>`).
  *   - Jelinek-Mercer interpolation when the context was seen:
  *     p = λ·p_ml + (1−λ)·p_uni; unseen context backs off to p_uni.
  *
  * Cross-engine determinism: the per-position cost is quantized to
  * integer MICRO-nats, nll = floor(−ln(p)·1e6+0.5) as BIGINT, and
  * per-doc totals are BIGINT sums — exact and summation-order-
  * invariant, so the doc totals hash-match any engine bit-for-bit
  * (a DOUBLE sum would be order-dependent across partitionings).
  * Micro, not nano: the quantization step times the ~1e-16 relative
  * error budget of a libm `ln` is what decides how often a 1-ulp
  * engine difference lands on a floor boundary — at 1e6 scaling the
  * flip band is ~1e-9 per type, negligible even at 1e6 vocab types,
  * where 1e9 scaling would make oracle flips *expected* at scale.
  * λ defaults to 0.75 so both λ and 1−λ are exact dyadic doubles
  * (0.7 would make Spark's `1.0 - 0.7` and a SQL literal `0.3`
  * differ by one ulp). Only the final perplexity exp(nll/1e6/n) is
  * a double, rounded through the floor(x·1e6+0.5)/1e6 convention.
  *
  * Scale shape (100 TB corpus, reference slice typically ≪ corpus):
  *   1. Reference counts: explode + two-level aggs with map-side
  *      combine — unigram, bigram, and context tables are all
  *      VOCAB-sized, never corpus-sized.
  *   2. The corpus position stream never meets the count tables
  *      row-by-row: positions compress FIRST to per-doc bigram type
  *      counts — inside the [[graft.functions.BigramKernel]]
  *      expression, per doc, with no exchange — which collapses
  *      repetitive text by orders of magnitude before anything
  *      shuffles.
  *   3. Bigram TYPES (distinct (v,w) of the compressed stream) are
  *      scored once against the three count tables; the count tables
  *      are corpus-derived and scale with vocabulary, so every join
  *      is a SHUFFLE_HASH-pinned equi-join — never a broadcast that
  *      would OOM the driver when the vocab is 10⁸ types (the AQE
  *      defect class the round-9 factor-100 smoke caught).
  *   4. One join of the compressed (doc, type) stream onto the scored
  *      types, then one groupBy doc — BIGINT partial sums all the
  *      way, map-side combined.
  */
object LmOps {

  private val MicroScale = 1e6

  /** Exploded per-doc bigram-count rows of `textCol`:
    * (keep..., p:struct<v,w,n>) — tokenized once per doc (codegen'd
    * regexp land), paired AND counted inside the fused
    * [[graft.functions.BigramKernel]] expression, so the exploded
    * output is already the compressed per-doc pair table and NO
    * aggregation exchange exists anywhere upstream of the model
    * joins. (History: an unstaged HOF formulation re-ran the full
    * tokenizer per `element_at` — O(n_tokens × text_len) per doc, q89
    * at 126 s / q91 at 72 s in the r10 bench; the staged HOF fix
    * still paid per-element interpretation plus a groupBy exchange.
    * BENCH_NOTES round 11.) */
  private def pairRows(df: DataFrame, keep: Seq[String],
      textCol: String): DataFrame = {
    val keepCols = keep.map(col)
    df.select(keepCols :+ TextOps.tokens(col(textCol)).as("__tk"): _*)
      .select(keepCols :+
        explode(graft.functions.BigramKernel.pairCounts(col("__tk")))
          .as("p"): _*)
  }

  /** Perplexity of every `corpus` doc under an interpolated bigram LM
    * trained on `ref` (typically a trusted high-quality slice).
    * Returns (idCol, n_tok, nll_micro, ppl): BIGINT token count,
    * BIGINT total cost in micro-nats, and the rounded perplexity
    * (null for empty docs — no positions, nothing to score). */
  def perplexity(corpus: DataFrame, ref: DataFrame, idCol: String,
      textCol: String, lambda: Double = 0.75): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda=$lambda")

    val refPairs = pairRows(ref, Nil, textCol)
      .select(col("p.v").as("v"), col("p.w").as("w"), col("p.n").as("n"))

    // Vocab-sized model tables, each one agg with map-side combine
    // (inputs are already per-doc-compressed counts — sum, not count).
    val uni = refPairs.groupBy("w").agg(sum("n").as("c_w"))
    val bi  = refPairs.groupBy("v", "w").agg(sum("n").as("c_vw"))
    val ctx = bi.groupBy("v").agg(sum("c_vw").as("c_v"))

    // T (token instances) and V (distinct types) are two scalars of a
    // single-row agg — a bounded driver action by construction.
    val totRow = uni.agg(
      coalesce(sum("c_w"), lit(0L)).as("t"),
      count(lit(1)).as("vsz")).head()
    val bigT = totRow.getLong(0)
    val bigV = totRow.getLong(1)

    // Corpus positions arrive ALREADY compressed to per-doc bigram
    // type counts — the kernel counted them in-doc, so there is no
    // aggregation exchange before the model joins.
    val docPairs = pairRows(corpus, Seq(idCol), textCol)
      .select(col(idCol), col("p.v").as("v"), col("p.w").as("w"),
        col("p.n").as("n_occ"))

    // Score each bigram TYPE once. The model tables scale with the
    // reference vocabulary -> SHUFFLE_HASH equi-joins, no broadcast.
    val pUni = (coalesce(col("c_w"), lit(0L)) + 1.0) /
      lit(bigT.toDouble + bigV.toDouble + 1.0)
    val prob = when(col("c_v").isNotNull,
        lit(lambda) * (coalesce(col("c_vw"), lit(0L)) / col("c_v")) +
          lit(1.0 - lambda) * pUni)
      .otherwise(pUni)
    val scoredTypes = docPairs.select("v", "w").distinct()
      .join(bi.hint("shuffle_hash"), Seq("v", "w"), "left")
      .join(ctx.hint("shuffle_hash"), Seq("v"), "left")
      .join(uni.hint("shuffle_hash"), Seq("w"), "left")
      .select(col("v"), col("w"),
        floor(-log(prob) * MicroScale + 0.5).cast("long").as("nll1"))

    // One equi-join of the compressed stream onto the scored types,
    // then BIGINT per-doc totals — exact, order-invariant.
    val perDoc = docPairs
      .join(scoredTypes.hint("shuffle_hash"), Seq("v", "w"))
      .groupBy(col(idCol))
      .agg(sum("n_occ").as("n_tok"),
        sum(col("n_occ") * col("nll1")).as("nll_micro"))

    // perDoc is doc-level — corpus-sized, like every table above:
    // nothing in this operator is ever small enough to broadcast.
    corpus.select(col(idCol))
      .join(perDoc.hint("shuffle_hash"), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        coalesce(col("nll_micro"), lit(0L)).as("nll_micro"),
        when(col("n_tok") > 0L,
          floor(exp(col("nll_micro") / lit(MicroScale) / col("n_tok"))
            * 1e6 + 0.5) / 1e6).as("ppl"))
  }

  /** CCNet's head/middle/tail perplexity binning (Wenzek et al. 2020
    * §4.3): docs are bucketed by tercile cuts of the corpus
    * perplexity distribution. Cuts come from
    * [[SampleOps.sampleRankCuts]] — exact rank statistics of a
    * deterministic parameter-bounded sample, never a global sort —
    * and rows compare against the cut VALUES, so ties at a cut land
    * in the lower bucket on every engine. Empty docs (null ppl) get
    * a null bucket: unscoreable is not a quality verdict.
    *
    * The perplexity frame is checkpointed once (eager): the
    * cuts pass and the labeling pass share one scoring of the
    * corpus — the checkpoint holds the 4-column projection
    * (id + three numerics), not the text. */
  def perplexityBuckets(corpus: DataFrame, ref: DataFrame,
      idCol: String, textCol: String, sampleSize: Int = 400,
      lambda: Double = 0.75, salt: String = "qs"): DataFrame = {
    val ppl = Materialize.checkpoint(
      perplexity(corpus, ref, idCol, textCol, lambda))
    val cuts = SampleOps.sampleRankCuts(ppl, "ppl", idCol,
      Seq(1.0 / 3, 2.0 / 3), sampleSize, salt)
    ppl.withColumn("bucket",
      when(col("ppl").isNull, lit(null).cast("string"))
        .when(col("ppl") <= cuts(0), "head")
        .when(col("ppl") <= cuts(1), "middle")
        .otherwise("tail"))
  }

  /** Top-k collocations by PMI — the classic collocation-extraction
    * pass (Church & Hanks 1990) a curation pipeline runs to surface
    * boilerplate phrases and candidate stop-bigrams: rank bigrams by
    * how much more often the pair occurs than its parts predict.
    *
    * Exactness: PMI = log(p(v,w)/(p(v)p(w))) ranks identically to
    * the RATIO c_vw/(c_v·c_w) (log is monotone; the corpus-total
    * factor is constant), so no float log ever enters the key. The
    * ratio is quantized engine-portably as
    * `(c_vw·10⁶ div c_v)·10⁶ div c_w` — marginals are taken over the
    * same sentinel-free pair table, so c_vw ≤ min(c_v, c_w) keeps
    * every intermediate ≤ 10¹² regardless of corpus size (the first
    * multiply needs c_vw ≤ 9·10¹², far beyond any single pair's
    * count) — ties broken (c_vw DESC, v, w). Pairs below `minCount`
    * drop first (singleton pairs have unboundedly noisy PMI — the
    * standard cut).
    *
    * Dataflow: the [[graft.functions.BigramKernel]] per-doc counts
    * explode once; the bigram table and its two vocab-sized marginals
    * are map-side-combined aggregates; the final cut is a
    * TakeOrdered k-row collect, then rank is stamped on the k-row
    * frame. */
  def collocations(corpus: DataFrame, textCol: String, k: Int,
      minCount: Long = 5L): DataFrame = {
    require(k >= 1, s"k=$k")
    require(minCount >= 1, s"minCount=$minCount")
    val pairs = pairRows(corpus, Nil, textCol)
      .select(col("p.v").as("v"), col("p.w").as("w"),
        col("p.n").as("n"))
      .filter(col("v") =!= "<s>")
    val bi = pairs.groupBy("v", "w").agg(sum("n").as("c_vw"))
      .filter(col("c_vw") >= minCount)
    val ctx = pairs.groupBy("v").agg(sum("n").as("c_v"))
    val tgt = pairs.groupBy("w").agg(sum("n").as("c_w"))
    // SHUFFLE_HASH-pinned marginal attaches: the vocab-sized ctx/tgt
    // tables are corpus-derived (10⁸ rows at corpus scale) — never
    // estimate-broadcast (the r13 audit class)
    val scored = bi.join(ctx.hint("shuffle_hash"), "v")
      .join(tgt.hint("shuffle_hash"), "w")
      .withColumn("pmi_key",
        expr("c_vw * 1000000L div c_v * 1000000L div c_w"))
    val top = scored
      .orderBy(col("pmi_key").desc, col("c_vw").desc, col("v"),
        col("w"))
      .limit(k)
    // rank stamped on the k-row frame — k-bounded by construction;
    // partitioned on a constant so the single-partition window is
    // DECLARED, not the warning-generating partitionless default
    top.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(lit(0))
          .orderBy(col("pmi_key").desc, col("c_vw").desc, col("v"),
            col("w"))))
      .select(col("rank"), col("v"), col("w"), col("c_vw"),
        col("c_v"), col("c_w"), col("pmi_key"))
  }
}
