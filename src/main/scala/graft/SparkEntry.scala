package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.{EtlQueries, MediaQueries, Query, SimQueries,
  StreamingQueries, TextQueries}

/** Driver contract (SURVEY.md §7): the query registry.
  *
  * Each [[graft.queries.Query]] in [[registry]] exercises one operator
  * family from SURVEY.md §2 on the driver's TPC-H-ish parquet corpus,
  * implemented through the graft operator library, and carries the
  * equivalent DuckDB SQL for the hash-compare correctness gate: a
  * query cannot be written without its oracle. The records live in
  * one domain file per family under `graft.queries` (ETL, text, sim,
  * media, streaming); this object holds the loader and rounding
  * helper they share.
  *
  * Determinism rules (oracle parity):
  *  - every aggregate double is `rnd()`ed identically on both sides
  *    so summation-order ulp noise can't flip the hash;
  *  - every result has a total ORDER BY on its key columns;
  *  - integer time arithmetic uses `div` (Spark) / `//` (DuckDB), never
  *    float division;
  *  - window orderings always include a unique tiebreak column.
  */
object SparkEntry {

  /** Timestamp columns whose parquet annotation has drifted across
    * driver testdata generations: TIMESTAMP(NANOS) in early rounds
    * (Spark has no nanosecond timestamp — read as long via the legacy
    * conf and truncate to micros, matching DuckDB's ns->us cast),
    * TIMESTAMP_NTZ micros (isAdjustedToUTC=false) since round 11.
    * The loader normalizes every generation to plain TIMESTAMP with
    * unix_micros == the stored int64, so operators and collect-side
    * code (java.sql.Timestamp) are generation-independent.
    *
    * SESSION CONTRACT: registry queries assume three session
    * confs for oracle parity — UTC zone, nanosAsLong,
    * inferTimestampNTZ=false. [[GraftSession]] sets them at
    * construction for every session in this codebase (Bench, Verify,
    * tools, tests). `t()` still pins them (a deliberate, documented
    * side effect) for sessions built elsewhere, and does NOT restore
    * them, because all three are read at EXECUTION time (zone by
    * timestamp casts, the parquet annotations by each task's
    * footer-to-Catalyst conversion), so a save/restore around the
    * eager schema read would silently flip semantics when the action
    * later runs. Run these queries in a GraftSession rather than one
    * whose timestamp semantics other code depends on. */
  private val nanosCols: Map[String, Seq[String]] = Map("events" -> Seq("ts"))

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Read parquet TIMESTAMP_NTZ annotations as plain TIMESTAMP *in
    // the scan* (session zone pinned UTC so the stored micros are the
    // instant DuckDB sees). An after-scan cast would be value-equal
    // but would WRAP the column and kill parquet predicate pushdown on
    // it — at 100 TB the time filter is the partition pruner, so it
    // must reach the reader. NTZ inference off is scan-native: filters
    // on ts stay pushable (PushedFilters in .explain).
    s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    val df = s.read.parquet(s"$dir/$name.parquet")
    val nanosFixed = nanosCols.getOrElse(name, Nil).foldLeft(df) { (d, c) =>
      d.schema(c).dataType match {
        case org.apache.spark.sql.types.LongType => // TIMESTAMP(NANOS)
          d.withColumn(c, timestamp_micros(expr(s"$c div 1000")))
        case _ => d
      }
    }
    // Defensive residue: if an NTZ column still surfaces (e.g. the
    // inference conf disappears in a future Spark), normalize by cast
    // — value-equal under the UTC session zone, just not pushable.
    nanosFixed.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.TimestampNTZType)
      .foldLeft(nanosFixed) { (d, f) =>
        d.withColumn(f.name,
          col(f.name).cast(org.apache.spark.sql.types.TimestampType))
      }
  }

  /** Engine-parity rounding: floor(x*10^n + 0.5)/10^n. Every step is an
    * exactly-specified IEEE-754 op, so Spark and DuckDB produce the same
    * bits — unlike decimal `round`, whose half-way tie handling differs
    * between the engines (Spark rounds the shortest decimal repr,
    * DuckDB the raw binary). */
  private[graft] def rnd(c: Column, scale: Int): Column = {
    val p = math.pow(10.0, scale)
    floor(c * p + lit(0.5)) / p
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    lookup(Seq("q01_pricing_summary")).head
      .run(spark, "/root/testdata/sf0.001")

  /** Every registry query, in name order. */
  val registry: Seq[Query] = Query.inNameOrder(EtlQueries.all ++
    TextQueries.all ++ SimQueries.all ++ MediaQueries.all ++
    StreamingQueries.all)

  /** The queries Bench times: all but [[graft.queries.StreamingQueries]],
    * whose cost is fixture setup rather than the operator under test. */
  val timed: Seq[Query] = registry.filterNot(StreamingQueries.all.contains)

  /** The registry queries `names`, in the order given. Throws naming
    * every name the registry does not hold. */
  def lookup(names: Seq[String]): Seq[Query] = {
    val unknown = names.filterNot(n => registry.exists(_.name == n))
    require(unknown.isEmpty,
      s"unregistered query names: ${unknown.mkString(", ")}")
    names.map(n => registry.find(_.name == n).get)
  }
}
