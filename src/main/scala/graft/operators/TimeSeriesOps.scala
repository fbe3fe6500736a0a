package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series conditioning and analytics operators.
  *
  * Spark-first re-expression of the reference's `DataHandler` /
  * gap-analysis surface (SURVEY.md §2.4, §2.6, §2.7):
  * dedup (D1/D2), regularize-to-grid (A1), interval inference (A2),
  * missing-record stats (A5), gap distribution/bounds (A6/A7),
  * date span (A8), variable status (A9), diel means (A4),
  * downsampling (A3), range masking (P5), gaps-and-islands (J5).
  *
  * Scale notes: every operator takes `keys` (e.g. site/user id) and
  * partitions its windows/joins by them, so work distributes across
  * executors by key at 100 TB. The keyless (`keys = Nil`) paths of
  * [[intervalHistogram]] and [[gaps]] do NOT fall back to a global
  * single-partition window: they range-shuffle the timestamp column,
  * difference within each sorted partition in one pass, and stitch the
  * per-partition boundary rows (a frame bounded by the shuffle
  * partition count) on the driver — so interval inference over a year
  * of 10 Hz fast data distributes like any keyed op. Keyless
  * [[islands]] distributes the same way (per-partition islands, with
  * the ≤2-per-partition boundary islands chain-merged on the driver),
  * and keyless [[sessionize]] uses a two-pass scheme: a summary pass
  * computes per-partition session counts and boundary timestamps
  * (bounded by the partition count), the driver derives per-partition
  * id offsets (adjacent partitions whose boundary gap is within the
  * session gap share a session), and the labeling pass assigns
  * `offset + local index`. No operator in this file puts data through
  * a single-partition window on any path.
  */
object TimeSeriesOps {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** D4-precondition telemetry: after a keyless operator's internal
    * actions have run, read the observed null-timestamp count and warn
    * if the substrate silently dropped rows (violated non-null
    * precondition — see [[islands]]). Zero row-path cost: the count
    * rides Spark's CollectMetrics node during actions the operator
    * already runs, no extra scan and no codegen break. */
  private def warnNullDrops(obs: Observation, op: String,
      tsCol: String): Unit = {
    // The observation completes on the listener bus asynchronously,
    // AFTER the operator's internal actions return. In practice it is
    // already complete by the time we get here (the actions have run),
    // and `parasitic` then logs synchronously on this thread; on a
    // lagging bus the warning fires from the completion callback
    // instead — the operator itself NEVER blocks (an Await here used
    // to serialize up-to-10 s stalls into every keyless call under a
    // stalled listener bus).
    obs.future.onComplete {
      case scala.util.Success(row)
          if !row.isNullAt(0) && row.getLong(0) > 0 =>
        log.warn(s"graft $op (keyless): dropped ${row.getLong(0)} " +
          s"row(s) with null '$tsCol' — the non-null timestamp " +
          "precondition is violated; purge bad timestamps (D4) " +
          "before ordered operators")
      case _ => ()
    }(scala.concurrent.ExecutionContext.parasitic)
  }

  private def nullTsMetric(c: Column): Column =
    sum(when(c.isNull, 1L).otherwise(0L)).as("null_ts")

  /** Keyless substrate: the timestamp column as unix micros,
    * range-partitioned and sorted within partitions. Equal values hash
    * to the same range bucket, so inline per-partition dedup of
    * consecutive equal values is globally exact. */
  private def rangedMicros(df: DataFrame, tsCol: String)
      : (org.apache.spark.sql.Dataset[Long], Observation) = {
    val spark = df.sparkSession
    import spark.implicits._
    val n = math.max(1, spark.sessionState.conf.numShufflePartitions)
    val obs = Observation()
    val ds = df.select(unix_micros(col(tsCol)).as("us"))
      .observe(obs, nullTsMetric(col("us")))
      .filter(col("us").isNotNull).as[Long]
      .repartitionByRange(n, col("us")).sortWithinPartitions("us")
    (ds, obs)
  }

  /** Per-partition boundary rows of [[rangedMicros]] output collected
    * to the driver: (pid, firstUs, lastUs), ascending pid. Bounded by
    * the shuffle-partition count, so the collect is safe at any data
    * scale. Range partitions are id-ordered, so consecutive non-empty
    * pids are time-adjacent. */
  private def boundaryPairs(bounds: Array[(Long, Long, Long)])
      : Seq[(Long, Long)] =
    bounds.sortBy(_._1).sliding(2).collect {
      case Array((_, _, lastPrev), (_, firstNext, _)) =>
        (lastPrev, firstNext)
    }.toSeq

  /** Distributed keyless A2 substrate: histogram of successive
    * first-differences over the *distinct sorted* timestamps, with no
    * single-partition window. One range shuffle; each partition is
    * scanned once, emitting its partial delta histogram plus one
    * boundary row; boundaries are stitched on the driver (≤ one pair
    * per partition). Replaces the old keyless shape (distinct shuffle
    * + global-window sort on one core) with strictly less work. */
  private def keylessIntervalHistogram(df: DataFrame, tsCol: String)
      : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // kind 0 rows: (delta_sec, count) partial histogram entries.
    // kind 1 rows: (firstUs, lastUs) partition boundary.
    val (ranged, obs) = rangedMicros(df, tsCol)
    val partial = ranged.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val pid = org.apache.spark.TaskContext.getPartitionId().toLong
        val h = scala.collection.mutable.LongMap.empty[Long]
        var prev = it.next(); val first = prev
        while (it.hasNext) {
          val c = it.next()
          if (c != prev) { // distinct() semantics: skip equal values
            val d = Math.floorDiv(c - prev, 1000000L)
            h.update(d, h.getOrElse(d, 0L) + 1L)
            prev = c
          }
        }
        h.iterator.map { case (d, n) => (0, pid, d, n) } ++
          Iterator((1, pid, first, prev))
      }
    }.toDF("kind", "pid", "a", "b").transform(Materialize.cache)
    try {
      val bounds = partial.filter(col("kind") === 1)
        .select("pid", "a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val boundary = boundaryPairs(bounds)
        .map { case (p, c) => (Math.floorDiv(c - p, 1000000L), 1L) }
      val hist = partial.filter(col("kind") === 0)
        .select(col("a").as("delta_sec"), col("b").as("n"))
        .unionAll(boundary.toDF("delta_sec", "n"))
        .groupBy("delta_sec").agg(sum("n").as("n"))
      // Eagerly materialize (tiny: one row per distinct delta) so the
      // cached partial can be released before returning.
      val out = Materialize.checkpoint(hist)
      warnNullDrops(obs, "intervalHistogram", tsCol)
      out
    } finally Materialize.release(partial)
  }

  /** Distributed keyless A6/A7 substrate: same shape as
    * [[keylessIntervalHistogram]] but emitting the gap bound rows
    * (prev_ts, ts) whose step exceeds the nominal interval. Output is
    * bounded by the gap count (the operator's own result size). */
  private def keylessGaps(df: DataFrame, tsCol: String,
      intervalSec: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // kind 0 rows: (prevUs, us) pairs with gap > intervalSec.
    // kind 1 rows: (firstUs, lastUs) partition boundary.
    val (ranged, obs) = rangedMicros(df, tsCol)
    val partial = ranged.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val pid = org.apache.spark.TaskContext.getPartitionId().toLong
        var prev = it.next(); val first = prev
        val pairs = new Iterator[(Int, Long, Long, Long)] {
          private var pending: (Int, Long, Long, Long) = null
          private def advance(): Unit =
            while (pending == null && it.hasNext) {
              val c = it.next()
              if (Math.floorDiv(c - prev, 1000000L) > intervalSec)
                pending = (0, pid, prev, c)
              prev = c
            }
          def hasNext = { advance(); pending != null }
          def next() = { advance(); val r = pending; pending = null; r }
        }
        // `++` evaluates its operand lazily, so the boundary row reads
        // the final `prev` after the pair scan finishes.
        pairs ++ Iterator((1, pid, first, prev))
      }
    }.toDF("kind", "pid", "a", "b").transform(Materialize.cache)
    try {
      val bounds = partial.filter(col("kind") === 1)
        .select("pid", "a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val boundary = boundaryPairs(bounds).filter { case (p, c) =>
        Math.floorDiv(c - p, 1000000L) > intervalSec }
      val out = partial.filter(col("kind") === 0).select("a", "b")
        .unionAll(boundary.toDF("a", "b"))
        .select(
          timestamp_micros(col("b")).as(tsCol),
          timestamp_micros(col("a")).as("prev_ts"))
        .withColumn("gap_sec", expr(
          s"(unix_micros($tsCol) - unix_micros(prev_ts)) div 1000000"))
        .withColumn("n_records", expr(s"gap_sec div $intervalSec") - 1)
      val result = Materialize.checkpoint(out)
      warnNullDrops(obs, "gaps", tsCol)
      result
    } finally Materialize.release(partial)
  }

  /** D1: drop rows that duplicate an earlier row in all columns.
    * Reference: file_handler.py:192-213 (mask + drop).
    * Distributed as a hash-shuffle on the full row; at scale prefer
    * pre-partitioning by a key subset (Spark hashes all columns here).
    */
  def dropExactDuplicates(df: DataFrame): DataFrame = df.dropDuplicates()

  /** D2: timestamps duplicated with *different* payloads — diagnostic
    * frame of (keys, ts, n_rows, n_distinct_payloads) for offenders.
    * Reference: file_handler.py:216-238.
    */
  def duplicateKeyDiagnostics(df: DataFrame, keyCols: Seq[String],
      payloadCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
           countDistinct(col(payloadCol)).as("n_distinct"))
      .filter(col("n_rows") > 1)

  /** A2: infer the sampling interval as the mode of first-differences
    * of the (distinct, sorted) timestamps; reference errors when the
    * minimum difference is not the mode (file_io.py:1041-1088) — we
    * surface both so callers can enforce that policy.
    * Returns (modeSeconds, minSeconds). Driver action (two-stage agg,
    * fully distributed until the final 1-row collect).
    */
  def inferIntervalSeconds(df: DataFrame, tsCol: String,
      keys: Seq[String] = Nil): (Long, Long) = {
    val h = intervalHistogram(df, tsCol, keys)
    // One action for both statistics: mode = delta maximizing
    // (n, -delta) — i.e. highest count, ties to the smallest delta.
    // The keyless histogram is a checkpoint read by this action only.
    val r = try h.agg(
      max_by(col("delta_sec"), struct(col("n"), col("delta_sec") * -1))
        .as("mode"),
      org.apache.spark.sql.functions.min("delta_sec").as("min")).head()
    finally Materialize.release(h)
    require(!r.isNullAt(0),
      s"cannot infer interval of '$tsCol': fewer than two distinct timestamps")
    (r.getLong(0), r.getLong(1))
  }

  /** A2 enforcement: the reference refuses to proceed when the
    * minimum timestamp difference disagrees with the mode — that
    * means duplicate-ish or sub-interval rows survived conditioning
    * (file_io.py:1079-1087). Returns the confirmed interval or
    * throws. Use this (not [[inferIntervalSeconds]]) on any path
    * that goes on to regularize against the inferred grid. */
  def requireUniformInterval(df: DataFrame, tsCol: String,
      keys: Seq[String] = Nil): Long = {
    val (mode, min) = inferIntervalSeconds(df, tsCol, keys)
    require(min == mode,
      s"minimum timestamp difference (${min}s) does not equal the " +
      s"modal interval (${mode}s) — sub-interval or duplicate rows " +
      "present; dedup/condition the frame before grid operations")
    mode
  }

  /** A2 substrate: histogram of successive-timestamp differences in
    * seconds (one row per distinct delta, with occurrence count).
    */
  def intervalHistogram(df: DataFrame, tsCol: String,
      keys: Seq[String] = Nil): DataFrame =
    if (keys.isEmpty) keylessIntervalHistogram(df, tsCol)
    else {
      val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
      df.select((keys :+ tsCol).map(col): _*).distinct()
        .withColumn("__du",
          unix_micros(col(tsCol)) - unix_micros(lag(col(tsCol), 1).over(w)))
        .withColumn("delta_sec", expr("__du div 1000000"))
        .drop("__du")
        .filter(col("delta_sec").isNotNull)
        .groupBy("delta_sec").agg(count(lit(1)).as("n"))
    }

  /** A1: regularize to a monotonic fixed-interval grid per key group:
    * generate the [min, max] tick sequence per group, left-join the
    * data back on (keys, tick). Missing ticks appear as all-null rows.
    * The grid side is tiny relative to data (one row per tick) and the
    * join shuffles both sides by (keys, ts) — the same partitioning
    * later window ops reuse.
    */
  def regularize(df: DataFrame, tsCol: String, intervalSec: Long,
      keys: Seq[String] = Nil, ticksPerChunk: Int = 65536): DataFrame = {
    val k = keys.map(col)
    val stepUs = intervalSec * 1000000L
    // Two-level grid: explode chunk starts, then ticks within each
    // chunk. A single sequence() would materialize the whole span as
    // one array per group — fine for 30-min data, but a year of 10 Hz
    // is 3e8 ticks and blows the array limit; chunking keeps every
    // array <= ticksPerChunk and lets ticks distribute across tasks.
    val bounds = df.groupBy(k: _*)
      .agg(min(col(tsCol)).as("__t0"), max(col(tsCol)).as("__t1"))
    val chunks = bounds.select(k :+ col("__t1") :+
      explode(sequence(col("__t0"), col("__t1"),
        expr(s"INTERVAL ${intervalSec * ticksPerChunk} SECONDS")))
        .as("__c"): _*)
    val grid = chunks.select(k :+
      explode(sequence(col("__c"),
        least(col("__t1"),
          timestamp_micros(unix_micros(col("__c"))
            + lit(stepUs * ticksPerChunk - stepUs))),
        expr(s"INTERVAL $intervalSec SECONDS"))).as(tsCol): _*)
    grid.join(df, keys :+ tsCol, "left")
  }

  /** A5: missing-record stats per key group against the implied grid:
    * n_expected = (max-min)/interval + 1; n_missing; pct_missing.
    * Pure aggregation — no grid materialization needed.
    */
  def missingStats(df: DataFrame, tsCol: String, intervalSec: Long,
      keys: Seq[String] = Nil): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(min(col(tsCol)).as("first_ts"), max(col(tsCol)).as("last_ts"),
           count(lit(1)).as("n_present"))
      .withColumn("n_expected", expr(
        s"(unix_micros(last_ts) - unix_micros(first_ts)) div ${intervalSec * 1000000L}") + 1L)
      .withColumn("n_missing", col("n_expected") - col("n_present"))

  /** A6/A7 substrate: one row per inter-record step larger than the
    * nominal interval, with bounds (prev_ts, ts) and the gap size in
    * whole records. Window partitioned by keys -> distributes.
    */
  def gaps(df: DataFrame, tsCol: String, intervalSec: Long,
      keys: Seq[String] = Nil): DataFrame =
    if (keys.isEmpty) keylessGaps(df, tsCol, intervalSec)
    else {
      val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
      df.select((keys :+ tsCol).map(col): _*)
        .withColumn("prev_ts", lag(col(tsCol), 1).over(w))
        .withColumn("gap_sec", expr(
          s"(unix_micros($tsCol) - unix_micros(prev_ts)) div 1000000"))
        .filter(col("gap_sec") > intervalSec)
        .withColumn("n_records", expr(s"gap_sec div $intervalSec") - 1)
    }

  /** A6: histogram of gap sizes (in records) across key groups. */
  def gapDistribution(df: DataFrame, tsCol: String, intervalSec: Long,
      keys: Seq[String] = Nil): DataFrame =
    gaps(df, tsCol, intervalSec, keys)
      .groupBy("n_records").agg(count(lit(1)).as("n_gaps"))

  /** A8: date span per key group. */
  def dateSpan(df: DataFrame, tsCol: String,
      keys: Seq[String] = Nil): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(min(col(tsCol)).as("first_ts"), max(col(tsCol)).as("last_ts"),
           count(lit(1)).as("n_records"))

  /** A9: per-key status stats against a supplied "now": last record
    * time, last valid (non-null) value via max_by, days since last
    * record, and % valid in the trailing 24 h. One pass, one shuffle.
    * Reference: network_status.py:496-557.
    */
  def variableStatus(df: DataFrame, tsCol: String, valueCol: String,
      now: java.sql.Timestamp, keys: Seq[String] = Nil): DataFrame = {
    val ts = col(tsCol); val v = col(valueCol)
    val dayUs = 86400L * 1000000L
    df.groupBy(keys.map(col): _*).agg(
      max(ts).as("last_ts"),
      max_by(v, when(v.isNotNull, ts)).as("last_valid_value"),
      max(when(v.isNotNull, ts)).as("last_valid_ts"),
      count(when(ts >= lit(now) - expr("INTERVAL 24 HOURS"), 1))
        .as("n_24h"),
      count(when(ts >= lit(now) - expr("INTERVAL 24 HOURS")
        && v.isNotNull, 1)).as("n_valid_24h"))
      .withColumn("days_since_last",
        (lit(now.getTime * 1000L) - unix_micros(col("last_ts")))
          .cast("double") / dayUs)
  }

  /** A4: diel (time-of-day) means — one bin per (hour, minute-bucket).
    * Reference: profile_data_processor.py:158-201.
    */
  def dielMean(df: DataFrame, tsCol: String, valueCols: Seq[String],
      keys: Seq[String] = Nil): DataFrame =
    df.groupBy((keys.map(col) :+ hour(col(tsCol)).as("hh")
        :+ minute(col(tsCol)).as("mm")): _*)
      .agg(avg(valueCols.head).as(valueCols.head),
        valueCols.tail.map(c => avg(c).as(c)): _*)

  /** A3: downsample to a fixed window by mean. Window start labels the
    * bucket (the TOA5 end-label convention is applied by the caller via
    * `endLabel`). */
  def downsampleMean(df: DataFrame, tsCol: String, valueCols: Seq[String],
      intervalSec: Long, keys: Seq[String] = Nil): DataFrame = {
    val us = unix_micros(col(tsCol))
    val bucket = timestamp_micros(
      us - pmod(us, lit(intervalSec * 1000000L))).as("bucket_ts")
    df.groupBy((keys.map(col) :+ bucket): _*)
      .agg(avg(valueCols.head).as(valueCols.head),
        valueCols.tail.map(c => avg(c).as(c)): _*)
  }

  /** End-of-interval label helper (§7.4 hard part 4): shift a window
    * start label to the interval end the reference uses. */
  def endLabel(ts: Column, intervalSec: Long): Column =
    timestamp_micros(unix_micros(ts) + intervalSec * 1000000L)

  /** P5: mask values outside [lo, hi] to null — row count preserved,
    * never a filter. Reference: convert_calc_filter.py:147-153. */
  def maskRange(c: Column, lo: Double, hi: Double): Column =
    when(c.between(lo, hi), c)

  /** J5: gaps-and-islands — coalesce consecutive rows with the same
    * `label` (ordered by tsCol within keys) into (label, start, end, n)
    * intervals. Reference: instrument-history merge,
    * nc_constructors.py:828-1004. Also serves sessionization when
    * `newIslandWhen` supplies a gap predicate instead of label change.
    * Precondition (this and [[sessionize]], [[gaps]],
    * [[intervalHistogram]]): `tsCol` must be non-null — condition the
    * frame first (D4 bad-timestamp purge), as the reference pipeline
    * does before any ordered operator. If violated, every keyless path
    * uniformly drops the null-timestamp rows (filtered in the ranged
    * substrate) and logs a warning with the observed drop count —
    * row loss is counted, never silent; keyed paths delegate null
    * placement to the window sort.
    */
  def islands(df: DataFrame, tsCol: String, labelCol: String,
      keys: Seq[String] = Nil, tieBreak: Seq[String] = Nil): DataFrame =
    if (keys.isEmpty) keylessIslands(df, tsCol, labelCol, tieBreak)
    else islandsKeyed(df, tsCol, labelCol, keys, tieBreak)

  private def islandsKeyed(df: DataFrame, tsCol: String, labelCol: String,
      keys: Seq[String], tieBreak: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((tsCol +: tieBreak).map(col): _*)
    val flagged = df
      .withColumn("__new", when(lag(col(labelCol), 1).over(w).isNull
        || lag(col(labelCol), 1).over(w) =!= col(labelCol), 1)
        .otherwise(0))
      .withColumn("__island", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
    flagged.groupBy((keys :+ labelCol).map(col) :+ col("__island"): _*)
      .agg(min(col(tsCol)).as("start_ts"), max(col(tsCol)).as("end_ts"),
           count(lit(1)).as("n_records"))
      .drop("__island")
  }

  /** Sessionization: split each key's ordered events into sessions
    * wherever the inter-event gap exceeds `gapSec`.
    *
    * Scale/durability caveat (keyless path only): the keyless variant
    * materializes its full row-per-input-row output before returning —
    * by default via a local [[Materialize]] checkpoint, i.e.
    * NON-replicated executor storage: an executor lost after return
    * fails downstream jobs with `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`
    * instead of recomputing, and while the operator runs the input is
    * transiently resident ~2x (cached substrate + checkpointed
    * result). Fine at the sizes keyless sessionization is usually
    * asked for; for very large keyless inputs set a Spark checkpoint
    * directory (`sc.setCheckpointDir`) and pass
    * `reliableCheckpoint = true` to write the result to the
    * fault-tolerant checkpoint store instead. The keyed path has no
    * materialization cost at all — it is the 100 TB path. */
  def sessionize(df: DataFrame, tsCol: String, gapSec: Long,
      keys: Seq[String] = Nil, tieBreak: Seq[String] = Nil,
      reliableCheckpoint: Boolean = false): DataFrame =
    if (keys.isEmpty)
      keylessSessionize(df, tsCol, gapSec, tieBreak, reliableCheckpoint)
    else sessionizeKeyed(df, tsCol, gapSec, keys, tieBreak)

  private def sessionizeKeyed(df: DataFrame, tsCol: String, gapSec: Long,
      keys: Seq[String], tieBreak: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((tsCol +: tieBreak).map(col): _*)
    // Integer gap seconds via `div` (floor for the non-negative ordered
    // gaps), matching gaps() and the DuckDB `//` operator — Column `/`
    // would coerce to double and open a session on a 21600.000001 s gap
    // that the integer semantics does not.
    df.withColumn("__gap_us",
        unix_micros(col(tsCol)) - unix_micros(lag(col(tsCol), 1).over(w)))
      .withColumn("__gap", expr("__gap_us div 1000000"))
      .withColumn("__new", when(col("__gap").isNull
        || col("__gap") > gapSec, 1).otherwise(0))
      .withColumn("session_id", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("__gap_us", "__gap", "__new")
  }

  /** Globally-ordered (ts ++ tieBreak) range repartition with a `__us`
    * micros column appended — the substrate both keyless per-row
    * operators scan. Equal composite keys land in one partition;
    * partition ids ascend with the key order. Null-timestamp rows are
    * dropped here, matching [[rangedMicros]], so every keyless path
    * handles a violated non-null precondition the same way (filter +
    * observed-count warning) instead of an opaque NPE from
    * `Row.getLong`; callers surface the count via [[warnNullDrops]]
    * once their internal actions have run. */
  private def rangedRows(df: DataFrame, tsCol: String,
      tieBreak: Seq[String]): (DataFrame, Observation) = {
    val n = math.max(1,
      df.sparkSession.sessionState.conf.numShufflePartitions)
    val orderCols = (tsCol +: tieBreak).map(col)
    val obs = Observation()
    val out = df.observe(obs, nullTsMetric(col(tsCol)))
      .filter(col(tsCol).isNotNull)
      .withColumn("__us", unix_micros(col(tsCol)))
      .repartitionByRange(n, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
    (out, obs)
  }

  /** Distributed keyless J5: islands computed per range partition in
    * one pass; interior islands are final where they stand, and the
    * ≤2 boundary islands per partition (its first and last) are
    * chain-merged on the driver — a run of one label spanning many
    * partitions folds left-to-right across the (bounded) boundary
    * frame. Output matches the keyed single-group semantics exactly:
    * (label, start_ts, end_ts, n_records). */
  private def keylessIslands(df: DataFrame, tsCol: String,
      labelCol: String, tieBreak: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    val labelType = df.schema(labelCol).dataType
    val tagSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("pid", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("idx", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_islands", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField(labelCol, labelType),
      org.apache.spark.sql.types.StructField("start_us", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("end_us", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_records", org.apache.spark.sql.types.LongType)))
    val (src, obs) = rangedRows(
      df.select(col(tsCol) +: col(labelCol) +: tieBreak.map(col): _*),
      tsCol, tieBreak)
    val usIdx = src.columns.indexOf("__us")
    val lblIdx = src.columns.indexOf(labelCol)
    // One island row per (partition, label run): local scan, no window.
    val tagged = src.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Any, Long, Long, Long)] // label, startUs, endUs, n
        var first = it.next()
        var lbl = first.get(lblIdx)
        var start = first.getLong(usIdx); var end = start; var n = 1L
        it.foreach { r =>
          val l = r.get(lblIdx); val us = r.getLong(usIdx)
          if (l == lbl) { end = us; n += 1 }
          else { out += ((lbl, start, end, n)); lbl = l
                 start = us; end = us; n = 1 }
        }
        out += ((lbl, start, end, n))
        val total = out.length.toLong
        out.iterator.zipWithIndex.map { case ((l, s, e, cnt), i) =>
          org.apache.spark.sql.Row(pid, i.toLong, total, l, s, e, cnt)
        }
      }
    }(org.apache.spark.sql.Encoders.row(tagSchema))
      .transform(Materialize.cache)
    try {
      val interior = tagged
        .filter(col("idx") > 0 && col("idx") < col("n_islands") - 1)
      // Boundary frame: first + last island of each partition — at most
      // 2 rows per partition, so the collect is bounded.
      val boundary = tagged
        .filter(col("idx") === 0 || col("idx") === col("n_islands") - 1)
        .collect()
        .sortBy(r => (r.getInt(0), r.getLong(1)))
      val resolved = scala.collection.mutable.ArrayBuffer
        .empty[(Any, Long, Long, Long)]
      var pending: (Any, Long, Long, Long) = null
      def flush(): Unit =
        if (pending != null) { resolved += pending; pending = null }
      boundary.foreach { r =>
        val isl = (r.get(3), r.getLong(4), r.getLong(5), r.getLong(6))
        val isFirst = r.getLong(1) == 0L
        val isLast = r.getLong(1) == r.getLong(2) - 1L
        if (isFirst && pending != null && pending._1 == isl._1) {
          // continues the chain from the previous partition's last run
          pending = (pending._1, pending._2, isl._3, pending._4 + isl._4)
          if (!isLast) flush() // interior islands follow: chain ends
        } else {
          flush()
          if (isLast) pending = isl // may chain into the next partition
          else resolved += isl // a first island with interiors after it
        }
      }
      flush()
      val resolvedDf = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(resolved.toSeq.map {
            case (l, s, e, cnt) =>
              org.apache.spark.sql.Row(0, 0L, 0L, l, s, e, cnt)
          }).asJava),
        tagSchema)
      val out = interior.unionByName(resolvedDf)
        .select(col(labelCol),
          timestamp_micros(col("start_us")).as("start_ts"),
          timestamp_micros(col("end_us")).as("end_ts"),
          col("n_records"))
      val result = Materialize.checkpoint(out)
      warnNullDrops(obs, "islands", tsCol)
      result
    } finally Materialize.release(tagged)
  }

  /** Distributed keyless sessionization: pass 1 summarizes each range
    * partition (first/last micros, session count — bounded output,
    * one row per partition); the driver turns the summaries into
    * per-partition id offsets, merging the first session of a
    * partition into the previous partition's last when the boundary
    * gap is within `gapSec`; pass 2 re-scans and labels each row
    * `offset + local session index`. Ids match the keyed single-group
    * running-sum convention (first session = 1). The ranged substrate
    * is cached before the summary pass and released after the
    * labeling result is checkpointed: RangePartitioner bounds come
    * from order-sensitive reservoir sampling, so recomputing the
    * shuffle for the second pass could see a different partition
    * structure under nondeterministic upstream row order (cluster
    * shuffle fetch order) — both passes must read the same
    * materialized partitions. */
  private def keylessSessionize(df: DataFrame, tsCol: String,
      gapSec: Long, tieBreak: Seq[String],
      reliableCheckpoint: Boolean): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (ranged, obs) = rangedRows(df, tsCol, tieBreak)
    val src = Materialize.cache(ranged)
    try {
      val usIdx = src.columns.indexOf("__us")
      val summary = src.mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          var prev = it.next().getLong(usIdx)
          val first = prev
          var sessions = 1L
          it.foreach { r =>
            val us = r.getLong(usIdx)
            if (Math.floorDiv(us - prev, 1000000L) > gapSec) sessions += 1
            prev = us
          }
          Iterator((pid, first, prev, sessions))
        }
      }.collect().sortBy(_._1)
      val bases = scala.collection.mutable.Map.empty[Int, Long]
      var running = 0L
      var prevLast = Long.MinValue
      summary.foreach { case (pid, first, last, sessions) =>
        val merges = prevLast != Long.MinValue &&
          Math.floorDiv(first - prevLast, 1000000L) <= gapSec
        bases(pid) = if (merges) running - 1 else running
        running = bases(pid) + sessions
        prevLast = last
      }
      val baseMap = spark.sparkContext.broadcast(bases.toMap)
      val outSchema = df.schema.add("session_id",
        org.apache.spark.sql.types.LongType)
      val labeled = src.mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val base = baseMap.value(pid)
          var local = 1L
          var prev = Long.MinValue
          it.map { r =>
            val us = r.getLong(usIdx)
            if (prev != Long.MinValue &&
                Math.floorDiv(us - prev, 1000000L) > gapSec) local += 1
            prev = us
            org.apache.spark.sql.Row.fromSeq(
              r.toSeq.dropRight(1) :+ (base + local))
          }
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
      // Eagerly materialize so the cached substrate can be released
      // before returning: one row per input row, unlike islands and
      // gaps — see the durability caveat on [[sessionize]].
      val result = Materialize.checkpoint(labeled,
        reliable = reliableCheckpoint)
      warnNullDrops(obs, "sessionize", tsCol)
      result
    } finally Materialize.release(src)
  }
}
