package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Nondeterministic}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** The result of one [[PrefixScan]]: `rows` is the range-sorted
  * substrate plus one exclusive-prefix long column per weight;
  * `totals` maps each stratum (`""` for a global scan) to its
  * per-weight sums; `substrate` is the cached frame both passes
  * read, which `rows` reads lazily. */
private[graft] final case class PrefixScan(rows: DataFrame,
    substrate: DataFrame, totals: Map[String, IndexedSeq[Long]]) {

  /** Weight `i` summed over every stratum. */
  def total(i: Int): Long = totals.valuesIterator.map(_(i)).sum

  /** Release the substrate — only once `rows` has been fully
    * consumed (collected, written or eagerly checkpointed). */
  def release(): Unit = Materialize.release(substrate)
}

/** The one distributed running sum in a total order: budget fills,
  * pack offsets, exact per-stratum ranks, group-split cuts, mixture
  * positions and exact quantile ranks all read an EXCLUSIVE prefix
  * of some weight, globally or within a stratum. A
  * `sum(...).over(Window.orderBy(...))` is a single-partition
  * WindowExec; this is the two-pass scan instead:
  *
  *   1. range-partition on (stratum, order) and sort within
  *      partitions, so partition p holds a contiguous slice of the
  *      order and every stratum's rows are contiguous across the
  *      partition sequence; CACHE that substrate, because
  *      RangePartitioner bounds come from sampling — a recomputed
  *      shuffle could lay rows out differently from the driver-held
  *      starts of pass 1, so both passes (and every later read of
  *      `rows`) must see the same cached partitions;
  *   2. pass 1 sums each weight per (partition, stratum run); the
  *      driver collect is bounded by partitions + strata, never by
  *      data size, and the driver turns it into exclusive starts;
  *   3. pass 2 is a Catalyst projection ([[ExclusivePrefix]]) over
  *      the same partitions: each row gets its stratum's start in
  *      its partition plus the weights of the rows before it.
  *
  * Null weights count 0; a NULL stratum folds to `""`. The result
  * is identical for any partition count n >= 1 (PrefixScanSpec
  * compares n ∈ {1, 2, 3, 7} with a sequential reference), so n is
  * sized from the input by [[adaptiveRangeParts]]. */
private[graft] object PrefixScan {

  /** Scan `df` in (`stratum`, `order`) order. `prefixes` are
    * (output name, weight): each adds a non-null long column holding
    * the weight's exclusive running sum within the row's stratum.
    * The order must be total (end it with a unique key) for the
    * prefixes to be deterministic. `numPartitions` overrides the
    * adaptive range-partition count. The substrate stays cached:
    * call [[PrefixScan.release]] once `rows` is consumed. */
  def apply(df: DataFrame, order: Seq[Column],
      prefixes: Seq[(String, Column)], stratum: Option[Column] = None,
      numPartitions: Option[Int] = None): PrefixScan = {
    val n = numPartitions.getOrElse(adaptiveRangeParts(df))
    val strat = stratum.map(s => coalesce(s.cast("string"), lit("")))
    val keys = strat.toSeq ++ order
    val substrate = Materialize.cache(df.repartitionByRange(n, keys: _*)
      .sortWithinPartitions(keys: _*))
    try {
      val stratKey = strat.getOrElse(lit(""))
      val weights = prefixes.map(_._2.cast("long"))
      val k = weights.length
      // Pass 1: per-(partition, stratum-run) sums; fills the cache.
      val runs = substrate.select(stratKey +: weights: _*)
        .queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
          val acc = scala.collection.mutable.LinkedHashMap
            .empty[String, Array[Long]]
          var cur: UTF8String = null
          var sums: Array[Long] = null
          while (it.hasNext) {
            val r = it.next()
            val s = r.getUTF8String(0)
            if (cur == null || s != cur) {
              cur = s.clone()
              sums = acc.getOrElseUpdate(cur.toString, new Array[Long](k))
            }
            var i = 0
            while (i < k) {
              if (!r.isNullAt(i + 1)) sums(i) += r.getLong(i + 1)
              i += 1
            }
          }
          acc.iterator.map { case (s, t) => (pid, s, t) }
        }.collect()
      val byStratum = runs.groupBy(_._2)
      val totals = byStratum.map { case (s, rs) =>
        s -> (0 until k).map(i => rs.iterator.map(_._3(i)).sum) }
      val starts: Map[(Int, String), Array[Long]] =
        byStratum.flatMap { case (s, rs) =>
          val acc = new Array[Long](k)
          rs.sortBy(_._1).map { case (pid, _, t) =>
            val entry = (pid, s) -> acc.clone()
            (0 until k).foreach(i => acc(i) += t(i))
            entry
          }
        }
      // Pass 2: one projection over the same cached partitions.
      val prefixCols = prefixes.zip(weights).zipWithIndex.map {
        case (((name, _), w), i) =>
          ColumnBridge.column(ExclusivePrefix(ColumnBridge.expression(w),
            ColumnBridge.expression(stratKey), new Starts(starts, i)))
            .as(name)
      }
      PrefixScan(substrate.select(col("*") +: prefixCols: _*), substrate,
        totals)
    } catch { case t: Throwable =>
      Materialize.release(substrate); throw t
    }
  }

  /** Range-partition count derived from the INPUT SIZE, capped by
    * the session shuffle-partition conf (guide §2 "make partitioning
    * scale-adaptive rather than a constant"): a scan runs 3-4
    * sliver-task stages over its substrate, and sizing them to the
    * conf constant spawns `conf` near-empty tasks per stage on a
    * few-MB input (measured: q98 29% slower warm at 32 cores than 8
    * — pure task overhead). ~32 MB per partition; unknown stats
    * (defaultSizeInBytes = Long.Max) blow past the cap and degrade
    * to the conf, which remains the 100 TB scale knob — real inputs
    * reach it immediately. Partition count never changes output
    * content: the scan is boundary-exact for any n >= 1, which
    * PrefixScanSpec checks at n ∈ {1, 2, 3, 7}. */
  private[graft] def adaptiveRangeParts(df: DataFrame): Int = {
    val conf = math.max(1,
      df.sparkSession.sessionState.conf.numShufflePartitions)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val target = BigInt(32L << 20)
    ((bytes + target - 1) / target).min(BigInt(conf)).max(BigInt(1)).toInt
  }

  /** Internal working-column name that cannot collide with any input
    * column: `base`, or `base` + the first integer suffix free in
    * `cols`. Keeps an operator's reserved OUTPUT names the documented
    * ones. */
  private[graft] def freshName(base: String, cols: Seq[String]): String = {
    var n = base
    var i = 0
    while (cols.contains(n)) { i += 1; n = base + i }
    n
  }
}

/** Driver-held exclusive starts of weight `i` per (partition,
  * stratum); a stratum absent from a partition never asks. */
private[operators] final class Starts(m: Map[(Int, String), Array[Long]],
    i: Int) extends Serializable {
  def start(pid: Int, stratum: String): Long = m((pid, stratum))(i)
  override def toString: String = s"starts(${m.size})"
}

/** Pass 2 of [[PrefixScan]]: the exclusive running sum of `weight`
  * within `stratum`, in the row order of the partition being read,
  * offset by that (partition, stratum)'s start. Nondeterministic and
  * stateful, so Catalyst evaluates it once per row in order and never
  * pushes a filter beneath it; the stratum is a non-null string and its rows are
  * contiguous within a partition, so a stratum change reloads the
  * start. */
private[operators] case class ExclusivePrefix(weight: Expression,
    stratum: Expression, starts: Starts)
    extends BinaryExpression with Nondeterministic {

  override def left: Expression = weight
  override def right: Expression = stratum
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def stateful: Boolean = true
  override def prettyName: String = "exclusive_prefix"

  @transient private[this] var pid: Int = _
  @transient private[this] var cur: UTF8String = _
  @transient private[this] var run: Long = _

  override protected def initializeInternal(partitionIndex: Int): Unit = {
    pid = partitionIndex; cur = null; run = 0L
  }

  override protected def evalInternal(input: InternalRow): Any = {
    val s = stratum.eval(input).asInstanceOf[UTF8String]
    if (cur == null || s != cur) {
      cur = s.clone(); run = starts.start(pid, cur.toString)
    }
    val out = run
    val w = weight.eval(input)
    if (w != null) run += w.asInstanceOf[Long]
    out
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("starts", starts)
    val pidT = ctx.addMutableState("int", "prefixPid")
    val curT = ctx.addMutableState("UTF8String", "prefixStratum")
    val runT = ctx.addMutableState("long", "prefixRun")
    ctx.addPartitionInitializationStatement(
      s"$pidT = partitionIndex; $curT = null; $runT = 0L;")
    val s = stratum.genCode(ctx)
    val w = weight.genCode(ctx)
    ev.copy(code = code"""
      ${s.code}
      if ($curT == null || !${s.value}.equals($curT)) {
        $curT = ${s.value}.clone();
        $runT = $ref.start($pidT, $curT.toString());
      }
      long ${ev.value} = $runT;
      ${w.code}
      if (!${w.isNull}) $runT += ${w.value};""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ExclusivePrefix =
    copy(weight = newLeft, stratum = newRight)
}
