package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Materialize
import graft.operators.PrefixScan
import graft.operators.PrefixScan.freshName

/** Token-budget corpus selection: the "fill the training budget"
  * step every large-scale pipeline runs last — rank the scored pool
  * by priority and admit documents greedily until a token budget is
  * reached (e.g. "take the best 1.4T tokens from the scored crawl").
  *
  * Semantics: documents are laid out in the total order
  * (priority DESC, id ASC) — ties are broken by id, so the layout is
  * deterministic on any partitioning and re-derivable by an auditor —
  * and a document is selected iff the budget was not already
  * exhausted when the stream reaches it (its EXCLUSIVE cumulative
  * token offset is < budget). The selection therefore yields at
  * least `budget` tokens whenever the corpus holds them; the one
  * straddling document may overflow the budget, the convention that
  * keeps the rule one-pass and cut-point-exact (dropping the
  * straddler instead would under-fill; callers wanting that apply
  * `cum_tokens <= budget` to the returned frame).
  *
  * The hard part at scale is the same GLOBAL prefix sum as
  * [[PackOps]]: every document needs its absolute token offset in
  * priority order, and a `Window.orderBy` over the corpus is a
  * single-partition stage. Both run on the two-pass
  * [[graft.operators.PrefixScan]], so the only corpus-wide movement
  * is the one range exchange any global ordering costs; the policy
  * here is `selected = excl < budget`, `cum_tokens = excl + tok`
  * over its exclusive token prefix `excl`.
  *
  * Contract: the result is eagerly materialized (serialized
  * localCheckpoint) and the shuffle substrate released before
  * returning — the [[PackOps.packedBlocks]] retention contract, so a
  * long-lived session retains nothing. Lineage truncation means the
  * result is not recomputable on executor loss; re-run the selection
  * in that case (it is deterministic, so the re-run is identical).
  *
  * Reference scope: the reference pipeline has no budget operator
  * (it is a flux-tower ETL); this extends the engine for the
  * large-scale training-data use cases in the build brief.
  */
object BudgetOps {

  /** Select documents in (priority DESC, `idCol` ASC) order until
    * `budget` tokens are admitted. Returns every input row plus
    * `cum_tokens` (INCLUSIVE running token total in selection order),
    * `selected` (= exclusive offset < budget), and `budget` (the
    * resolved budget — telemetry for the fraction variant). Null
    * tokens count 0; priorities must be non-null (cast to double for
    * ordering). budget <= 0 selects nothing; >= total selects all.
    * The token and priority columns are evaluated ONCE, during the
    * range-shuffle materialization — pass expensive scoring
    * expressions directly rather than pre-materializing them.
    * `cum_tokens`/`selected`/`budget` are reserved output names —
    * input columns with those names are overwritten. */
  def budgetSelect(df: DataFrame, idCol: String, tokenCol: String,
      priorityCol: String, budget: Long): DataFrame =
    run(df, idCol, tokenCol, priorityCol, _ => budget)

  /** [[budgetSelect]] with budget = floor(total·num/den) — "take
    * half the corpus's tokens" without the caller paying a separate
    * corpus-wide agg action for the total: pass 1 of the prefix-sum
    * scan already sums every partition's tokens, so the fraction is
    * derived from the SAME materialization the selection reads (the
    * caller's scoring projection is evaluated exactly once). Exact
    * integer arithmetic (BigInt intermediate, no double rounding). */
  def budgetSelectFraction(df: DataFrame, idCol: String,
      tokenCol: String, priorityCol: String, num: Long, den: Long)
      : DataFrame = {
    require(den > 0 && num >= 0, s"num=$num den=$den")
    run(df, idCol, tokenCol, priorityCol,
      total => (BigInt(total) * num / den).toLong)
  }

  /** Per-stratum budget fill — token-proportioned data MIXING (the
    * FineWeb/Dolma "mix sources to a token recipe" step): within
    * EACH stratum (source, language, domain tier), admit documents
    * in (priority DESC, id ASC) order until that stratum's token
    * budget is reached. `budgets` maps stratum (as string) to its
    * budget; absent strata get `defaultBudget` (0 = excluded).
    *
    * Same [[graft.operators.PrefixScan]], stratified: pass 1's
    * driver collect is bounded by the partition count plus the
    * stratum cardinality, which is parameter-sized by assumption
    * (sources/languages — the same contract as
    * [[SampleOps.stratifiedSample]]'s broadcast rate table), and the
    * budgets ride the plan as a literal map. A NULL stratum folds to
    * the empty string.
    *
    * Output adds `cum_tokens` (within-stratum inclusive running
    * total), `budget` (the stratum's resolved budget), `selected`. */
  def budgetSelectPerStratum(df: DataFrame, idCol: String,
      tokenCol: String, priorityCol: String, stratumCol: String,
      budgets: Map[String, Long], defaultBudget: Long = 0L)
      : DataFrame =
    runPerStratum(df, idCol, tokenCol, priorityCol, stratumCol,
      totals => totals.map { case (s, _) =>
        s -> budgets.getOrElse(s, defaultBudget) })

  /** [[budgetSelectPerStratum]] with every stratum's budget derived
    * as floor(stratumTotal·num/den) from pass-1 totals — "half of
    * every source" costs no extra pass (the [[budgetSelectFraction]]
    * contract, per stratum). */
  def budgetSelectPerStratumFraction(df: DataFrame, idCol: String,
      tokenCol: String, priorityCol: String, stratumCol: String,
      num: Long, den: Long): DataFrame = {
    require(den > 0 && num >= 0, s"num=$num den=$den")
    runPerStratum(df, idCol, tokenCol, priorityCol, stratumCol,
      totals => totals.map { case (s, t) =>
        s -> (BigInt(t) * num / den).toLong })
  }

  /** Per-stratum fill with budgets DERIVED by UniMax water-filling
    * ([[MixOps.unimaxAllocate]]): total budget `totalBudget`, no
    * stratum over capNum/capDen epochs. The allocation is computed
    * from the SAME pass-1 stratum totals the fill already collects,
    * so deriving the recipe costs no extra corpus action — the
    * [[budgetSelectPerStratumFraction]] contract with the UniMax
    * closed form as the budget rule. */
  def budgetSelectUnimax(df: DataFrame, idCol: String,
      tokenCol: String, priorityCol: String, stratumCol: String,
      totalBudget: Long, capNum: Long, capDen: Long): DataFrame =
    runPerStratum(df, idCol, tokenCol, priorityCol, stratumCol,
      totals => MixOps.unimaxAllocate(totals, totalBudget,
        capNum, capDen))

  /** [[budgetSelectUnimax]] with totalBudget =
    * floor(corpusTokens·num/den), both derived from pass-1 totals. */
  def budgetSelectUnimaxFraction(df: DataFrame, idCol: String,
      tokenCol: String, priorityCol: String, stratumCol: String,
      num: Long, den: Long, capNum: Long, capDen: Long): DataFrame = {
    require(den > 0 && num >= 0, s"num=$num den=$den")
    runPerStratum(df, idCol, tokenCol, priorityCol, stratumCol,
      totals => {
        val total = totals.valuesIterator.map(BigInt(_)).sum
        MixOps.unimaxAllocate(totals, (total * num / den).toLong,
          capNum, capDen)
      })
  }

  /** Per-stratum fill with budgets DERIVED by √-temperature
    * apportionment ([[MixOps.temperatureSqrtAllocate]] — the
    * mBERT/XLM-R α=0.5 recipe): total budget `totalBudget` split
    * ∝ √stratumTokens, computed from the SAME pass-1 totals the fill
    * already collects (the [[budgetSelectUnimax]] contract with the
    * sqrt closed form as the budget rule). */
  def budgetSelectTemperatureSqrt(df: DataFrame, idCol: String,
      tokenCol: String, priorityCol: String, stratumCol: String,
      totalBudget: Long): DataFrame =
    runPerStratum(df, idCol, tokenCol, priorityCol, stratumCol,
      totals => MixOps.temperatureSqrtAllocate(totals, totalBudget))

  /** [[budgetSelectTemperatureSqrt]] with totalBudget =
    * floor(corpusTokens·num/den), both derived from pass-1 totals. */
  def budgetSelectTemperatureSqrtFraction(df: DataFrame, idCol: String,
      tokenCol: String, priorityCol: String, stratumCol: String,
      num: Long, den: Long): DataFrame = {
    require(den > 0 && num >= 0, s"num=$num den=$den")
    runPerStratum(df, idCol, tokenCol, priorityCol, stratumCol,
      totals => {
        val total = totals.valuesIterator.map(BigInt(_)).sum
        MixOps.temperatureSqrtAllocate(totals,
          (total * num / den).toLong)
      })
  }

  private def runPerStratum(df0: DataFrame, idCol: String,
      tokenCol: String, priorityCol: String, stratumCol: String,
      budgetsOf: Map[String, Long] => Map[String, Long]): DataFrame = {
    // reserved-name contract, as in run()
    val df = df0.drop("cum_tokens", "selected", "budget")
    val tokC = freshName("__tok", df.columns)
    val priC = freshName("__pri", df.columns)
    val stratC = freshName("__strat", df.columns)
    val exclC = freshName("__excl", df.columns)
    val scan = PrefixScan(df
        .withColumn(tokC, coalesce(col(tokenCol).cast("long"), lit(0L)))
        .withColumn(priC, col(priorityCol).cast("double"))
        .withColumn(stratC,
          coalesce(col(stratumCol).cast("string"), lit(""))),
      Seq(col(priC).desc, col(idCol)), Seq(exclC -> col(tokC)),
      stratum = Some(col(stratC)))
    try {
      val budgets = budgetsOf(scan.totals.map { case (s, t) => s -> t(0) })
      Materialize.checkpoint(scan.rows
        .withColumn("cum_tokens", col(exclC) + col(tokC))
        .withColumn("budget", coalesce(
          try_element_at(typedLit(budgets), col(stratC)), lit(0L)))
        .withColumn("selected", col(exclC) < col("budget"))
        .drop(tokC, priC, stratC, exclC))
    } finally scan.release()
  }

  private def run(df0: DataFrame, idCol: String, tokenCol: String,
      priorityCol: String, budgetOf: Long => Long): DataFrame = {
    // honor the reserved-name contract: pre-existing output-named
    // columns are replaced, not duplicated
    val df = df0.drop("cum_tokens", "selected", "budget")
    val tokC = freshName("__tok", df.columns)
    val priC = freshName("__pri", df.columns)
    val exclC = freshName("__excl", df.columns)
    val scan = PrefixScan(df
        .withColumn(tokC, coalesce(col(tokenCol).cast("long"), lit(0L)))
        .withColumn(priC, col(priorityCol).cast("double")),
      Seq(col(priC).desc, col(idCol)), Seq(exclC -> col(tokC)))
    try {
      val budget = budgetOf(scan.total(0))
      Materialize.checkpoint(scan.rows
        .withColumn("cum_tokens", col(exclC) + col(tokC))
        .withColumn("selected", col(exclC) < lit(budget))
        .withColumn("budget", lit(budget))
        .drop(tokC, priC, exclC))
    } finally scan.release()
  }
}
