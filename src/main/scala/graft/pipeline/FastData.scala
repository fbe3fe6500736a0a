package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

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
    df.groupBy(windowEnd(col(tsCol), stepMin).as("window_end"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("n_expected", lit(expected))
      .withColumn("pct_complete",
        col("n_rows").cast("double") / expected * 100.0)
  }

  /** Partition a decoded fast frame into per-window TOA5 shard files
    * named `<prefix>_YYYY_MM_DD_HHMM.dat` (the window end in the
    * session time zone), byte-identical to running the single-file
    * TOA5 writer per window (for unique timestamps — ties within a
    * window have no defined order in either shape). Returns the shard
    * names in window order.
    *
    * Scale shape: ONE shuffle and ONE write action for every shard —
    * hash-partition on the window key so each window's rows land in
    * exactly one task, sort within partitions on the timestamp (the
    * window is monotone in it, so windows come out contiguous and rows
    * time-ordered with no window column in the shuffle or the sort),
    * then stream each partition straight to its shard files. Tasks
    * read Catalyst rows, derive each row's window from its epoch
    * micros, and encode lines with [[Toa5.LineEncoder]], the encoder
    * [[Toa5.write]] uses; the whole write is one SQL execution, so
    * query-execution listeners see its plan. Each task returns the
    * names of the shards it opened and the driver sorts them: the
    * fixed-width `yyyy_MM_dd_HHmm` stamp sorts as the window key does,
    * so no second pass over the input is needed. Job count is
    * independent of the window count. Shards are opened through the
    * Hadoop `FileSystem` API, so `outDir` may be any supported scheme
    * (`file://`, `hdfs://`, `s3a://`, a bare local path); task
    * re-execution overwrites the same bytes, so speculative retries
    * are idempotent. */
  def writeShards(df: DataFrame, meta: TableMeta, tsCol: String,
      stepMin: Int, outDir: String, prefix: String): Seq[String] = {
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

    val rows = df.select((col(tsCol) +: dataCols.map(col)): _*)
      .repartition(windowEnd(col(tsCol), stepMin))
      .sortWithinPartitions(col(tsCol))
    val enc = Toa5.lineEncoder(rows)
    Toa5.inExecution(rows, "writeShards") { plan =>
      plan.execute().mapPartitions { it =>
        val dir = new org.apache.hadoop.fs.Path(outDir)
        val fs = dir.getFileSystem(hconf.value)
        val names = Seq.newBuilder[String]
        var cur = Long.MinValue
        var out: java.io.OutputStream = null
        try {
          it.foreach { r =>
            require(!r.isNullAt(0), s"writeShards: null $tsCol")
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
