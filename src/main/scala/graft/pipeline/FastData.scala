package graft.pipeline

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ArrayBinarySearch, Ascending, BoundReference, SortOrder, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.execution.{SortPrefixUtils, UnsafeExternalRowSorter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge, TaskBridge}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.UnsafeAlignedOffset

import graft.core.TableMeta
import graft.operators.TimeSeriesOps
import graft.sources.Toa5

/** E4 fast-data pipeline: 10 Hz TOB3 decode -> per-averaging-interval
  * TOA5 shards (reference: code/utils/fast_file_io.py:444-596 and
  * code/data_constructors/fast_file_converters.py:64-128).
  *
  * Window convention matches the reference: a record at time t belongs
  * to the window (start, start+step] — i.e. end-labelled intervals —
  * so the bucket key is ceil(t / step) * step.
  */
object FastData {

  /** Duplicate-file hash guard (reference: fast_file_converters.py
    * :228-235 — a destination name colliding with DIFFERENT content
    * is an error; identical content is a benign re-send). Input is a
    * binaryFile-style frame (`fileName`, `content` columns); returns
    * the conflict report as data, one row per name carried by more
    * than one distinct sha256, with the distinct hashes listed.
    * Distributed: per-file hashing maps over executors, the conflict
    * check is one count-distinct aggregation on (name, hash). */
  def fileHashConflicts(files: DataFrame,
      nameCol: String = "fileName", contentCol: String = "content")
      : DataFrame =
    files
      .select(col(nameCol).as("file_name"),
        sha2(col(contentCol), 256).as("sha256"))
      .groupBy("file_name", "sha256").agg(count(lit(1)).as("n_copies"))
      .groupBy("file_name")
      .agg(collect_set(col("sha256")).as("hashes"),
        sum(col("n_copies")).as("n_files"))
      .filter(size(col("hashes")) > 1)

  /** F28: round timestamps to 100 ms ticks (+500 us then truncate to
    * tenths) — reference code/utils/fast_file_io.py:646-654. */
  def round100ms(ts: Column): Column =
    timestamp_micros(((unix_micros(ts) + 500L).cast("long"))
      .minus((unix_micros(ts) + 500L) % 100000L))

  /** A14 bucket key: end-labelled window of `stepMin` minutes —
    * ceil(t/step)*step, so a record exactly on a boundary labels its
    * own window ((start, end] convention). */
  def windowEnd(ts: Column, stepMin: Int): Column = {
    val stepUs = stepMin * 60L * 1000000L
    // ceil-to-step in pure integer math (pmod of the negated value is
    // the distance up to the next boundary; 0 on a boundary) — no
    // double division, so the bucket is exact at any epoch magnitude.
    val us = unix_micros(ts)
    timestamp_micros(us + pmod(-us, lit(stepUs)))
  }

  /** Rows-per-window completeness stats: expected = step*freq*60. */
  def windowStats(df: DataFrame, tsCol: String, stepMin: Int,
      freqHz: Double): DataFrame = {
    val expected = (stepMin * freqHz * 60).toLong
    windowCounts(df, tsCol, stepMin)
      .withColumn("n_expected", lit(expected))
      .withColumn("pct_complete",
        col("n_rows").cast("double") / expected * 100.0)
  }

  /** Rows per non-empty window: `window_end`, `n_rows`. */
  private def windowCounts(df: DataFrame, tsCol: String,
      stepMin: Int): DataFrame =
    df.groupBy(windowEnd(col(tsCol), stepMin).as("window_end"))
      .agg(count(lit(1)).as("n_rows"))

  /** Partition a decoded fast frame into per-window TOA5 shard files
    * named `<prefix>_YYYY_MM_DD_HHMM.dat` (the window end in the
    * session time zone), byte-identical to running the single-file
    * TOA5 writer per window (for unique timestamps — ties within a
    * window have no defined order in either shape). Returns the shard
    * names in window order.
    *
    * Scale shape: two SQL executions whatever the window count, and
    * a task's sort memory follows its rows, up to about one Tungsten
    * page of the session's page size.
    *  - A counting pass ([[windowStats]]' grouping) returns each
    *    non-empty window's row count to the driver: one row per shard,
    *    the same bound as the shard names returned.
    *  - The driver packs consecutive windows into tasks of at most
    *    [[rowBudget]] rows (a window over the budget gets a task of its
    *    own), so a task's sort memory is bounded by the window, not by
    *    the data span over the session's shuffle partitions.
    *  - The write shuffles each row to its window's task
    *    (`repartitionById` over a binary search of the tasks' first
    *    windows). Each task sorts its rows on the timestamp with a
    *    sorter of its own ([[sortOnTime]]) that takes 1 MiB pages, so
    *    a task of a few thousand rows holds a few MiB, not the whole
    *    page of the session's page size (1 to 64 MiB, from executor
    *    memory over cores) that a planned sort's first row reserves.
    *    The window is monotone in the timestamp, so windows come out
    *    contiguous and rows time-ordered with no window column in the
    *    shuffle or the sort; each partition then streams straight to
    *    its shard files.
    *    Tasks read Catalyst rows, derive each row's window from its
    *    epoch micros, and encode lines with [[Toa5.LineEncoder]], the
    *    encoder [[Toa5.write]] uses; the write is one SQL execution, so
    *    query-execution listeners see its plan. Each task returns the
    *    names of the shards it opened and the driver sorts them: the
    *    fixed-width `yyyy_MM_dd_HHmm` stamp sorts as the window key
    *    does.
    * The input is read once per pass, so it must read the same rows
    * twice. Shards are opened through the Hadoop `FileSystem` API, so
    * `outDir` may be any supported scheme (`file://`, `hdfs://`,
    * `s3a://`, a bare local path); task re-execution overwrites the
    * same bytes, so speculative retries are idempotent. */
  def writeShards(df: DataFrame, meta: TableMeta, tsCol: String,
      stepMin: Int, outDir: String, prefix: String): Seq[String] =
    writeShards(df, meta, tsCol, stepMin, outDir, prefix, rowBudget(
      TaskBridge.pageSizeBytes(df.sparkSession), sortRowBytes(df.schema)))

  /** [[writeShards]] with tasks of at most `budget` rows. */
  private[graft] def writeShards(df: DataFrame, meta: TableMeta,
      tsCol: String, stepMin: Int, outDir: String, prefix: String,
      budget: Long): Seq[String] = {
    val dataCols = df.columns.filter(_ != tsCol).toSeq
    val headerVars = meta.variableNames.filter(_ != "TIMESTAMP")
    require(dataCols == headerVars,
      s"header/data mismatch: data-only=${dataCols.diff(headerVars)} " +
      s"header-only=${headerVars.diff(dataCols)}")
    val header = Toa5.headerText(meta)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val stepUs = stepMin * 60L * 1000000L
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    outPath.getFileSystem(hconf.value).mkdirs(outPath)

    val counts = windowCounts(df.select(col(tsCol)), tsCol, stepMin)
      .select(unix_micros(col("window_end")), col("n_rows")).collect()
      .map { r =>
        require(!r.isNullAt(0), s"writeShards: null $tsCol")
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1).toSeq
    if (counts.isEmpty) return Seq.empty
    val starts = packWindows(counts, budget).map(_.head._1).toArray
    // binary search returns the index of an exact hit, else
    // -(insertion point) - 1; a window belongs to the last task whose
    // first window is not after it
    val hit = ColumnBridge.column(ArrayBinarySearch(
      ColumnBridge.expression(typedLit(starts)),
      ColumnBridge.expression(unix_micros(windowEnd(col(tsCol), stepMin)))))
    val rows = df.select((col(tsCol) +: dataCols.map(col)): _*)
      .repartitionById(starts.length, greatest(hit, -hit - 2))
    val schema = rows.schema
    val enc = Toa5.lineEncoder(rows)
    Toa5.inExecution(rows, "writeShards") { plan =>
      plan.execute().mapPartitions { it =>
        val dir = new org.apache.hadoop.fs.Path(outDir)
        val fs = dir.getFileSystem(hconf.value)
        val names = Seq.newBuilder[String]
        var cur = Long.MinValue
        var out: java.io.OutputStream = null
        try {
          sortOnTime(it, schema).foreach { r =>
            val us = r.getLong(0)
            val w = us + Math.floorMod(-us, stepUs)
            if (out == null || w != cur) {
              if (out != null) out.close()
              cur = w
              val name = prefix + "_" + enc.localTime(w).format(ShardStamp) + ".dat"
              names += name
              out = new java.io.BufferedOutputStream(
                fs.create(new org.apache.hadoop.fs.Path(dir, name), true), 1 << 16)
              out.write(header)
            }
            enc.writeTo(r, out)
          }
        } finally if (out != null) out.close()
        names.result().iterator
      }.collect().toSeq.sorted
    }
  }

  /** Consecutive runs of `counts` — (window, rows) in window order —
    * of at most `budget` rows each, filled greedily; a window over the
    * budget is a run of its own. Every window is in exactly one run,
    * in order, and no run is empty. */
  private[graft] def packWindows(counts: Seq[(Long, Long)],
      budget: Long): Seq[Seq[(Long, Long)]] = {
    val runs = Seq.newBuilder[Seq[(Long, Long)]]
    var run = Vector.empty[(Long, Long)]
    var rows = 0L
    counts.foreach { case w @ (_, n) =>
      if (run.nonEmpty && rows + n > budget) {
        runs += run; run = Vector.empty; rows = 0L
      }
      run :+= w; rows += n
    }
    if (run.nonEmpty) runs += run
    runs.result()
  }

  /** The most rows whose sort fits one Tungsten page of `pageBytes`
    * bytes, at `rowBytes` per row of sorted data. The sorter's pointer
    * array holds 4 longs per row (record pointer and key prefix,
    * doubled as the radix sort's buffer) at a power-of-two capacity of
    * at least 1024 rows, and while it doubles it holds the half-size
    * array too: 48 bytes per row of capacity at its peak. With the
    * session's page size this caps a task's sort at what one page
    * holds; [[sortOnTime]] takes it in 1 MiB pages, so a task holds
    * that much only when its rows fill it. */
  private[graft] def rowBudget(pageBytes: Long, rowBytes: Long): Long =
    Iterator.iterate(1024L)(_ * 2).takeWhile(48 * _ < pageBytes)
      .map(cap => math.min(cap, (pageBytes - 48 * cap) / rowBytes))
      .maxOption.getOrElse(1024L)

  /** Bytes one row of `schema` takes in a sorter's data page: its
    * `UnsafeRow` (null bits, one word per field, and each
    * variable-length field at its type's default size in words) and
    * the record's length prefix. */
  private def sortRowBytes(schema: StructType): Long = {
    val varLen = schema.map(_.dataType).filterNot(UnsafeRow.isFixedLength)
      .map(t => (t.defaultSize + 7) / 8 * 8L).sum
    UnsafeRow.calculateBitSetWidthInBytes(schema.length) +
      8L * schema.length + varLen + UnsafeAlignedOffset.getUaoSize
  }

  /** The shard sorter's page size: Spark's smallest default page. */
  private val SortPageBytes = 1L << 20

  /** `rows` of `schema` sorted on their first column, ascending, by an
    * `UnsafeExternalRowSorter` over pages of [[SortPageBytes]]: the
    * radix sort on the key prefix and spilling of Spark's sort, with
    * memory taken a page at a time as the rows need it. The sorter's
    * peak is reported as the task's peak execution memory, as Spark's
    * own sort does. The rows must be `UnsafeRow`s, as a shuffle's are. */
  private def sortOnTime(rows: Iterator[InternalRow],
      schema: StructType): Iterator[InternalRow] = {
    val key = SortOrder(BoundReference(0, schema.head.dataType,
      nullable = true), Ascending)
    val sorter = UnsafeExternalRowSorter.create(schema,
      GenerateOrdering.generate(Seq(key)),
      SortPrefixUtils.getPrefixComparator(schema),
      SortPrefixUtils.createPrefixGenerator(schema), SortPageBytes,
      SortPrefixUtils.canSortFullyWithPrefix(schema.head))
    val sorted = sorter.sort(rows.asInstanceOf[Iterator[UnsafeRow]])
    TaskBridge.reportPeakExecutionMemory(TaskContext.get(),
      sorter.getPeakMemoryUsage)
    sorted
  }

  private val ShardStamp = java.time.format.DateTimeFormatter
    .ofPattern("yyyy_MM_dd_HHmm")

  /** Integer-preserving downcast check (D8): true when every non-null
    * value of the column is integral (within 1e-9), i.e. safe to write
    * as int (reference: fast_file_io.py:615-619). */
  def isIntegral(df: DataFrame, colName: String): Boolean = {
    val r = df.agg(max(abs(col(colName) - round(col(colName))))).head()
    r.isNullAt(0) || r.getDouble(0) < 1e-9
  }
}
