package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join/merge operators (SURVEY.md §2.5).
  *
  * The reference's joins are all time-axis alignment (J3), metadata set
  * logic (J2), or argmin selection (J7) — each maps to a Spark join
  * shape chosen for scale: equality keys shuffle-hash/sort-merge, small
  * dimensions broadcast, argmin via per-partition window rank (never a
  * driver collect).
  */
object JoinOps {

  /** J3: horizontal merge of per-source frames on the time axis — fold
    * of full-outer joins on (keys, ts), each step a shuffled hash join
    * that builds the frame being added. Both sides of a step shuffle on
    * the join key, as a sort-merge join's would, but a task then holds
    * one hashed page instead of two sort pages: each of the sort-merge
    * join's input sorts reserves a whole Tungsten page, however few
    * rows a task gets, and a site's per-logger tables are a few
    * thousand rows per task. The hashed side takes a page too, but
    * Spark's hash join does not report it as the task's peak execution
    * memory; only the task memory manager's peak (the `acquiredBytes`
    * of a `graft.obs.Reading.StagePeak`) shows it. The build side is
    * bounded by one frame's rows per shuffle partition and cannot
    * spill, the same trade as the engine's other `shuffle_hash` pins.
    * Reference: file_handler.py:534-605 (column-wise concat).
    */
  def mergeOnTime(frames: Seq[DataFrame], on: Seq[String]): DataFrame =
    frames.reduce((a, b) => a.join(b.hint("shuffle_hash"), on, "full_outer"))

  /** J1/E3: vertical concat with master precedence — union frames (by
    * name, missing columns null-filled), then keep the first occurrence
    * of each key by precedence order. Reference:
    * file_concatenators.py:32-126.
    */
  def concatWithPrecedence(frames: Seq[DataFrame], keyCols: Seq[String])
      : DataFrame = {
    val tagged = frames.zipWithIndex.map { case (f, i) =>
      f.withColumn("__prec", lit(i)) }
    val all = tagged.reduce(_.unionByName(_, allowMissingColumns = true))
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("__prec"))
    all.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__prec", "__rn")
  }

  /** J7: nearest-match (argmin) join — for each left row, the right row
    * in the same equality group minimizing `distance`, ties broken by
    * `tieBreak`. Implemented as equality join + window rank: shuffles
    * once on the group keys, ranks within partitions — no cross join,
    * no driver loop. Reference: nc_toa5_constructor.py:187-294.
    *
    * Scale note: group cardinality (rows per `on` key) bounds the fanout
    * of the intermediate join; the reference's groups are tiny (variables
    * per site). For large groups use a bucketed/banded distance first.
    */
  def nearestMatch(left: DataFrame, right: DataFrame, on: Seq[String],
      leftId: Seq[String], distance: Column, tieBreak: Seq[Column])
      : DataFrame = {
    val joined = left.join(right, on)
    val w = Window.partitionBy(leftId.map(col): _*)
      .orderBy(distance +: tieBreak: _*)
    joined.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** As-of join (backward): for each left row, the latest right row with
    * rightTs <= leftTs within the same key group. Spark-first: union the
    * two sides tagged, single window pass carrying the last right payload
    * forward — one shuffle on (keys, ts), no range explosion.
    */
  def asofJoinBackward(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, rightPayload: Seq[String])
      : DataFrame = {
    val lCols = left.columns.toSeq
    val l = left.withColumn("__ts", col(leftTs)).withColumn("__side", lit(1))
    val r = right.select((keys :+ rightTs).map(col)
        ++ rightPayload.map(col): _*)
      .withColumn("__ts", col(rightTs)).withColumn("__side", lit(0))
    // align schemas for unionByName
    val all = l.unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val carried = rightPayload.foldLeft(all) { (df, c) =>
      df.withColumn(c, last(when(col("__side") === 0, col(c)), ignoreNulls = true).over(w))
    }
    carried.filter(col("__side") === 1)
      .select((lCols ++ rightPayload).map(col): _*)
  }
}
