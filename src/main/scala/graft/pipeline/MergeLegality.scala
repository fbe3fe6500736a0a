package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.TableMeta
import graft.operators.Materialize
import graft.operators.TimeSeriesOps

/** J2 merge-legality analysis (reference:
  * code/file_handling/file_concatenators.py:187-455): before
  * concatenating a candidate file into a master, check that it
  * (a) contributes new dates, (b) has the same inferred interval,
  * (c) shares variables, (d) has equal units modulo the alias table.
  * Reports are data (a case class), not log strings (SURVEY §7.4 #8).
  */
object MergeLegality {

  /** Unit alias groups treated as equal
    * (reference: file_concatenators.py:19-25). */
  val DefaultUnitAliases: Seq[Set[String]] = Seq(
    Set("degC", "C"),
    Set("n", "arb", "samples"),
    Set("m^3/m^3", "fraction"))

  final case class Report(
      contributesNewDates: Boolean,
      sameInterval: Boolean,
      masterIntervalSec: Long,
      candidateIntervalSec: Long,
      commonVariables: Seq[String],
      masterOnlyVariables: Seq[String],
      candidateOnlyVariables: Seq[String],
      unitConflicts: Seq[(String, String, String)]) {
    def legal: Boolean =
      contributesNewDates && sameInterval &&
        commonVariables.nonEmpty && unitConflicts.isEmpty
  }

  def unitsEqual(a: String, b: String,
      aliases: Seq[Set[String]] = DefaultUnitAliases): Boolean =
    a == b || aliases.exists(g => g.contains(a) && g.contains(b))

  /** Analyse candidate vs master. Interval inference is the A2
    * operator; the date-contribution test is an anti-join existence
    * check (one aggregate, no collect of the data). */
  def analyse(master: DataFrame, masterMeta: TableMeta,
      candidate: DataFrame, candidateMeta: TableMeta,
      tsCol: String,
      aliases: Seq[Set[String]] = DefaultUnitAliases): Report = {
    val mVars = masterMeta.variableNames.filterNot(_ == "TIMESTAMP")
    val cVars = candidateMeta.variableNames.filterNot(_ == "TIMESTAMP")
    val common = mVars.intersect(cVars)

    val mUnits = masterMeta.variables.map(v => v.name -> v.units).toMap
    val cUnits = candidateMeta.variables.map(v => v.name -> v.units).toMap
    val conflicts = common.flatMap { v =>
      val (mu, cu) = (mUnits(v), cUnits(v))
      if (unitsEqual(mu, cu, aliases)) None else Some((v, mu, cu))
    }

    // Every data-side check below needs ONLY the timestamp column,
    // but each action over the raw frames would re-run their whole
    // upstream plan (the r16 q54 audit measured 26 Spark jobs per
    // analyse-bearing query, dominated by recomputed aggregation
    // chains: the anti-join and BOTH interval inferences re-derived
    // their inputs from scratch). Materialize the two ts projections
    // once (one row per input row — single-column, so small, but
    // row-count-sized on dense frames) and let the three checks share
    // them — UNLESS the caller already materialized the input (a
    // checkpointed/cached frame under only narrow Project/Filter
    // steps): re-checkpointing such a frame adds an eager job, a
    // second copy of the block set, and scheduler latency for zero
    // saved work (the r17 q61 probe measured exactly this — its
    // conditioned grids are pre-checkpointed by the caller). The
    // Report holds only scalars, so any block sets WE created are
    // released before returning.
    def prepare(df: DataFrame): (DataFrame, Boolean) = {
      val ts = df.select(col(tsCol))
      if (cheapToRecompute(df)) (ts, false)
      else (Materialize.checkpoint(ts), true)
    }
    val (mTs, mOwn) = prepare(master)
    val (cTs, cOwn) = prepare(candidate)
    try {
      val newDates = cTs
        .join(mTs, Seq(tsCol), "left_anti")
        .limit(1).count() > 0

      val (mInt, _) = TimeSeriesOps.inferIntervalSeconds(mTs, tsCol)
      val (cInt, _) = TimeSeriesOps.inferIntervalSeconds(cTs, tsCol)

      Report(newDates, mInt == cInt, mInt, cInt, common,
        mVars.diff(cVars), cVars.diff(mVars), conflicts)
    } finally {
      if (mOwn) Materialize.release(mTs)
      if (cOwn) Materialize.release(cTs)
    }
  }

  /** True when re-running `df`'s plan per action costs no real work:
    * every leaf is an already-materialized scan of this session's
    * memory (a `LogicalRDD`, what `localCheckpoint`/`checkpoint`
    * leave behind) and every node above the leaves is a narrow
    * Project/Filter. Matched by class name so no Spark-internal type
    * leaks into the signature. */
  private def cheapToRecompute(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
    val plan: LogicalPlan = df.queryExecution.optimizedPlan
    val nodes = plan.collect { case n => n }
    nodes.nonEmpty && nodes.forall {
      case _: Project | _: Filter => true
      case n => n.children.isEmpty && n.getClass.getSimpleName == "LogicalRDD"
    }
  }
}
