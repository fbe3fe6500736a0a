package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.{rnd, t}
import graft.functions.Conversions
import graft.operators.{JoinOps, Materialize, TimeSeriesOps}

/** The flux-tower ETL spine and its relational substrate (SURVEY.md
  * §2.1-§2.8, §2.10, E1-E4): TPC-H-shaped aggregation, joins, windows
  * and set operations, time-series regularization and gap analysis,
  * the logger codecs (TOA5, TOB1/TOB3, FP2, CSIXML, EddyPro, netCDF,
  * xlsx) and the L1, status and visualisation products. */
object EtlQueries {

  /** TOB1 roundtrip fixtures are single logger files written by the
    * (local) codec, so the event slice necessarily passes through the
    * driver — capped at a deterministic (ts, event_id)-ordered prefix
    * so the collect is bounded regardless of SF (a logger file is a
    * bounded artifact; bulk frames belong in parquet). */
  private val TobFixtureCap = 20000

  private def tobFixture(s: SparkSession, dir: String, sub: String): String = {
    val ev = t(s, dir, "events").select(col("ts"), col("value"))
      .orderBy(col("ts"), col("event_id")).limit(TobFixtureCap).collect()
    val rows = ev.toSeq.map { r =>
      (r.getTimestamp(0).getTime * 1000L +
        (r.getTimestamp(0).getNanos / 1000L) % 1000L,
        Seq(r.getDouble(1).toFloat))
    }
    val path = s"${System.getProperty("java.io.tmpdir")}/$sub/ev.dat"
    graft.sources.Tob.writeTob1(path,
      Seq("TOB1", "EventsSite", "CR3000", "1", "os", "prog", "1", "t"),
      Seq("value"), rows)
    path
  }

  /** This family's records; [[graft.SparkEntry.registry]] collects them. */
  val all: Seq[Query] = Seq(

  /** A-class aggregation over lineitem (TPC-H Q1 shape). */
  Query("q01_pricing_summary") { (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        rnd(sum(col("l_quantity")), 2).as("sum_qty"),
        rnd(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        rnd(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        rnd(avg(col("l_quantity")), 4).as("avg_qty"),
        rnd(avg(col("l_extendedprice")), 4).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  } (oracle = """
      SELECT l_returnflag, l_linestatus,
             floor((sum(l_quantity)) * 100.0 + 0.5) / 100.0 AS sum_qty,
             floor((sum(l_extendedprice)) * 100.0 + 0.5) / 100.0 AS sum_base_price,
             floor((sum(l_extendedprice * (1.0 - l_discount))) * 100.0 + 0.5) / 100.0 AS sum_disc_price,
             floor((avg(l_quantity)) * 10000.0 + 0.5) / 10000.0 AS avg_qty,
             floor((avg(l_extendedprice)) * 10000.0 + 0.5) / 10000.0 AS avg_price,
             count(*) AS count_order
      FROM lineitem GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""),

  /** P4 date-range slice + projection (pushdown-verified scan). */
  Query("q02_date_filter") { (s, dir) =>
    t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-01-01")
        && col("o_orderdate") < lit("1998-01-01")
        && col("o_totalprice") > 100000.0)
      .select("o_orderkey", "o_orderdate", "o_totalprice")
      .orderBy("o_orderkey")
  } (oracle = """
      SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
        AND o_totalprice > 100000.0
      ORDER BY o_orderkey"""),

  /** J-class multi-way join: revenue by nation (broadcast dims). */
  Query("q03_revenue_by_nation") { (s, dir) =>
    val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
    val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy("n_name")
      .agg(rnd(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"),
           count(lit(1)).as("n_lines"))
      .orderBy("n_name")
  } (oracle = """
      SELECT n_name,
             floor((sum(l_extendedprice * (1.0 - l_discount))) * 100.0 + 0.5) / 100.0 AS revenue,
             count(*) AS n_lines
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name"""),

  /** Broadcast dimension rollup region->nation->customer. */
  Query("q04_region_rollup") { (s, dir) =>
    val r = t(s, dir, "region"); val n = t(s, dir, "nation")
    val c = t(s, dir, "customer")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_customers"),
           rnd(sum(col("c_acctbal")), 2).as("sum_acctbal"))
      .orderBy("r_name")
  } (oracle = """
      SELECT r_name, count(*) AS n_customers,
             floor((sum(c_acctbal)) * 100.0 + 0.5) / 100.0 AS sum_acctbal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name ORDER BY r_name"""),

  /** W4 ordered-first: top order per customer via window rank. */
  Query("q05_top_order_per_cust") { (s, dir) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey")
  } (oracle = """
      SELECT o_custkey, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        FROM orders) WHERE rn = 1
      ORDER BY o_custkey"""),

  /** W1/W2 lag: inter-event gap per user (integer-exact seconds). */
  Query("q06_event_lag") { (s, dir) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("gap_sec",
        expr("(unix_micros(ts) - prev_us) div 1000000"))
      .select("event_id", "user_id", "gap_sec")
      .orderBy("event_id")
  } (oracle = """
      SELECT event_id, user_id,
             (epoch_us(ts) - lag(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id)) // 1000000
               AS gap_sec
      FROM events ORDER BY event_id"""),

  /** D1 exact dedup: distinct-text stats per source on documents. */
  Query("q07_doc_exact_dedup") { (s, dir) =>
    t(s, dir, "documents")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("text")).as("n_distinct_texts"))
      .orderBy("source")
  } (oracle = """
      SELECT source, count(*) AS n_docs,
             count(DISTINCT text) AS n_distinct_texts
      FROM documents GROUP BY source ORDER BY source"""),

  /** D2 duplicate-key diagnostics on lineitem order groups. */
  Query("q08_dup_key_diag") { (s, dir) =>
    TimeSeriesOps.duplicateKeyDiagnostics(
        t(s, dir, "lineitem"), Seq("l_orderkey"), "l_partkey")
      .orderBy("l_orderkey")
  } (oracle = """
      SELECT l_orderkey, count(*) AS n_rows,
             count(DISTINCT l_partkey) AS n_distinct
      FROM lineitem GROUP BY l_orderkey HAVING count(*) > 1
      ORDER BY l_orderkey"""),

  /** A1/A5 regularize-to-grid: hourly grid over events with counts
    * (missing hours present with n_events = 0). */
  Query("q09_regular_grid") { (s, dir) =>
    val e = t(s, dir, "events")
      .withColumn("hour_ts", date_trunc("hour", col("ts")))
    val grid = e.agg(min(col("hour_ts")).as("t0"), max(col("hour_ts")).as("t1"))
      .select(explode(sequence(col("t0"), col("t1"),
        expr("INTERVAL 1 HOUR"))).as("hour_ts"))
    grid.join(e, Seq("hour_ts"), "left")
      .groupBy("hour_ts")
      .agg(count(col("event_id")).as("n_events"))
      .orderBy("hour_ts")
  } (oracle = """
      WITH e AS (SELECT date_trunc('hour', ts) AS hour_ts, event_id FROM events),
      span AS (SELECT min(hour_ts) AS t0, max(hour_ts) AS t1 FROM e),
      grid AS (SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS hour_ts FROM span)
      SELECT g.hour_ts, count(e.event_id) AS n_events
      FROM grid g LEFT JOIN e ON e.hour_ts = g.hour_ts
      GROUP BY g.hour_ts ORDER BY g.hour_ts"""),

  /** A2 interval inference substrate: histogram of ts first-differences. */
  Query("q10_interval_hist") { (s, dir) =>
    TimeSeriesOps.intervalHistogram(t(s, dir, "events"), "ts")
      .orderBy("delta_sec")
  } (oracle = """
      WITH d AS (
        SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER (ORDER BY ts) AS du
        FROM (SELECT DISTINCT ts FROM events))
      SELECT du // 1000000 AS delta_sec, count(*) AS n
      FROM d WHERE du IS NOT NULL GROUP BY 1 ORDER BY 1"""),

  /** A6 gap distribution per user (nominal interval 3600 s). */
  Query("q11_gap_hist") { (s, dir) =>
    TimeSeriesOps.gapDistribution(
        t(s, dir, "events").select("user_id", "ts"), "ts", 3600,
        Seq("user_id"))
      .orderBy("n_records")
  } (oracle = """
      WITH d AS (
        SELECT (epoch_us(ts) - lag(epoch_us(ts)) OVER
                 (PARTITION BY user_id ORDER BY ts)) // 1000000 AS gap_sec
        FROM events)
      SELECT gap_sec // 3600 - 1 AS n_records, count(*) AS n_gaps
      FROM d WHERE gap_sec > 3600 GROUP BY 1 ORDER BY 1"""),

  /** A7 gap bounds: gaps > 6 h per user with (start, end). */
  Query("q12_gap_bounds") { (s, dir) =>
    TimeSeriesOps.gaps(
        t(s, dir, "events").select("user_id", "ts"), "ts", 21600,
        Seq("user_id"))
      .select(col("user_id"), col("prev_ts").as("gap_start"),
              col("ts").as("gap_end"), col("n_records"))
      .orderBy("user_id", "gap_start")
  } (oracle = """
      WITH d AS (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts,
               (epoch_us(ts) - lag(epoch_us(ts)) OVER
                 (PARTITION BY user_id ORDER BY ts)) // 1000000 AS gap_sec
        FROM events)
      SELECT user_id, prev_ts AS gap_start, ts AS gap_end,
             gap_sec // 21600 - 1 AS n_records
      FROM d WHERE gap_sec > 21600 ORDER BY user_id, gap_start"""),

  /** A8 date span per user. */
  Query("q13_date_span") { (s, dir) =>
    TimeSeriesOps.dateSpan(t(s, dir, "events"), "ts", Seq("user_id"))
      .orderBy("user_id")
  } (oracle = """
      SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts,
             count(*) AS n_records
      FROM events GROUP BY user_id ORDER BY user_id"""),

  /** A9 variable status: last record / last valid (range-masked) value
    * / trailing-24h validity, against fixed now = 1998-08-02. */
  Query("q14_status") { (s, dir) =>
    val now = java.sql.Timestamp.valueOf("2024-01-30 00:00:00")
    val masked = t(s, dir, "events")
      .withColumn("v", TimeSeriesOps.maskRange(col("value"), 0.0, 150.0))
    masked.groupBy("user_id").agg(
        max(col("ts")).as("last_ts"),
        max(when(col("v").isNotNull, col("ts"))).as("last_valid_ts"),
        max_by(col("v"), when(col("v").isNotNull, col("ts")))
          .as("last_valid_value"),
        count(when(col("ts") >= lit(now), 1)).as("n_24h"),
        count(when(col("ts") >= lit(now) && col("v").isNotNull, 1))
          .as("n_valid_24h"))
      .orderBy("user_id")
  } (oracle = """
      WITH m AS (
        SELECT *, CASE WHEN value BETWEEN 0.0 AND 150.0 THEN value END AS v
        FROM events)
      SELECT user_id, max(ts) AS last_ts,
             max(CASE WHEN v IS NOT NULL THEN ts END) AS last_valid_ts,
             arg_max(v, ts) FILTER (WHERE v IS NOT NULL) AS last_valid_value,
             count(CASE WHEN ts >= TIMESTAMP '2024-01-30 00:00:00' THEN 1 END) AS n_24h,
             count(CASE WHEN ts >= TIMESTAMP '2024-01-30 00:00:00'
                         AND v IS NOT NULL THEN 1 END) AS n_valid_24h
      FROM m GROUP BY user_id ORDER BY user_id"""),

  /** A4 diel mean: hour-of-day profile of event values. */
  Query("q15_diel_mean") { (s, dir) =>
    t(s, dir, "events")
      .groupBy(hour(col("ts")).as("hh"))
      .agg(rnd(avg(col("value")), 4).as("avg_value"),
           count(lit(1)).as("n"))
      .orderBy("hh")
  } (oracle = """
      SELECT hour(ts) AS hh, floor((avg(value)) * 10000.0 + 0.5) / 10000.0 AS avg_value,
             count(*) AS n
      FROM events GROUP BY 1 ORDER BY 1"""),

  /** A3 downsample: daily mean per event type. */
  Query("q16_daily_downsample") { (s, dir) =>
    t(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day_ts"))
      .agg(rnd(avg(col("value")), 4).as("avg_value"),
           count(lit(1)).as("n"))
      .orderBy("event_type", "day_ts")
  } (oracle = """
      SELECT event_type, date_trunc('day', ts) AS day_ts,
             floor((avg(value)) * 10000.0 + 0.5) / 10000.0 AS avg_value, count(*) AS n
      FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),

  /** P5 range mask: out-of-range -> null, rows preserved (count proof). */
  Query("q17_mask_range") { (s, dir) =>
    val masked = t(s, dir, "lineitem")
      .withColumn("q_masked", TimeSeriesOps.maskRange(col("l_quantity"), 5.0, 45.0))
    masked.groupBy("l_returnflag").agg(
        count(lit(1)).as("n_rows"),
        count(col("q_masked")).as("n_valid"),
        rnd(avg(col("q_masked")), 4).as("avg_masked"),
        rnd(sum(col("q_masked")), 2).as("sum_masked"))
      .orderBy("l_returnflag")
  } (oracle = """
      WITH m AS (
        SELECT l_returnflag,
               CASE WHEN l_quantity BETWEEN 5.0 AND 45.0 THEN l_quantity END AS q_masked
        FROM lineitem)
      SELECT l_returnflag, count(*) AS n_rows, count(q_masked) AS n_valid,
             floor((avg(q_masked)) * 10000.0 + 0.5) / 10000.0 AS avg_masked,
             floor((sum(q_masked)) * 100.0 + 0.5) / 100.0 AS sum_masked
      FROM m GROUP BY l_returnflag ORDER BY l_returnflag"""),

  /** F13-F19 met derivations (Buck es, e, VPD, dew point, AH) over a
    * synthetic met frame mapped from lineitem columns. */
  Query("q18_met_derivations") { (s, dir) =>
    import Conversions._
    val met = t(s, dir, "lineitem")
      .filter(col("l_discount") > 0.0)
      .select(col("l_returnflag").as("flag"),
        col("l_quantity").as("ta"),
        (col("l_discount") * 1000.0).as("rh"),
        (col("l_extendedprice") / 1000.0).as("ps"))
    met.select(col("flag"),
        saturationVapourPressure(col("ta")).as("es"),
        vpd(col("ta"), col("rh")).as("vpd_v"),
        dewPoint(vapourPressure(col("ta"), col("rh"))).as("td"),
        ahFromRh(col("ta"), col("rh"), col("ps")).as("ah"))
      .groupBy("flag")
      .agg(rnd(avg(col("es")), 6).as("avg_es"),
           rnd(avg(col("vpd_v")), 6).as("avg_vpd"),
           rnd(avg(col("td")), 6).as("avg_td"),
           rnd(avg(col("ah")), 6).as("avg_ah"))
      .orderBy("flag")
  } (oracle = """
      WITH met AS (
        SELECT l_returnflag AS flag, l_quantity AS ta,
               l_discount * 1000.0 AS rh, l_extendedprice / 1000.0 AS ps
        FROM lineitem WHERE l_discount > 0.0),
      d AS (
        SELECT flag, ps, rh,
               0.61121 * exp((18.678 - ta/234.5) * (ta/(257.14 + ta))) AS es,
               ps * 1000.0 / ((ta + 273.15) * 8.3143) AS md
        FROM met),
      d2 AS (SELECT flag, ps, md, es, es * rh / 100.0 AS e FROM d)
      SELECT flag, floor((avg(es)) * 1000000.0 + 0.5) / 1000000.0 AS avg_es,
             floor((avg(es - e)) * 1000000.0 + 0.5) / 1000000.0 AS avg_vpd,
             floor((avg(243.5 * ln(e/0.61121) / (17.502 - ln(e/0.61121)))) * 1000000.0 + 0.5) / 1000000.0 AS avg_td,
             floor((avg(e / ps * md * 18.0)) * 1000000.0 + 0.5) / 1000000.0 AS avg_ah
      FROM d2 GROUP BY flag ORDER BY flag"""),

  /** E1/E2 set ops: nations with customers but no suppliers. */
  Query("q19_setops") { (s, dir) =>
    val n = t(s, dir, "nation")
    val withCust = n.join(t(s, dir, "customer"),
      n("n_nationkey") === col("c_nationkey")).select("n_name")
    val withSupp = n.join(t(s, dir, "supplier"),
      n("n_nationkey") === col("s_nationkey")).select("n_name")
    withCust.except(withSupp).orderBy("n_name")
  } (oracle = """
      SELECT n_name FROM nation JOIN customer ON n_nationkey = c_nationkey
      EXCEPT
      SELECT n_name FROM nation JOIN supplier ON n_nationkey = s_nationkey
      ORDER BY n_name"""),

  /** J5 sessionization: split user streams on >6h gaps. */
  Query("q20_sessionize") { (s, dir) =>
    TimeSeriesOps.sessionize(
        t(s, dir, "events").select("user_id", "ts", "event_id"),
        "ts", 21600, Seq("user_id"), Seq("event_id"))
      .groupBy("user_id", "session_id")
      .agg(min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"),
           count(lit(1)).as("n_events"))
      .orderBy("user_id", "session_id")
  } (oracle = """
      WITH g AS (
        SELECT user_id, ts, event_id,
               CASE WHEN (epoch_us(ts) - lag(epoch_us(ts)) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id)) // 1000000
                 > 21600 OR lag(ts) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
               THEN 1 ELSE 0 END AS new_s
        FROM events),
      s AS (
        SELECT user_id, ts,
               CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM g)
      SELECT user_id, session_id, min(ts) AS start_ts, max(ts) AS end_ts,
             count(*) AS n_events
      FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id"""),

  /** J5 gaps-and-islands: consecutive same-event_type runs per user
    * (the instrument-history coalescing shape). */
  Query("q21_islands") { (s, dir) =>
    TimeSeriesOps.islands(
        t(s, dir, "events").select("user_id", "ts", "event_type", "event_id"),
        "ts", "event_type", Seq("user_id"), Seq("event_id"))
      .orderBy("user_id", "start_ts")
  } (oracle = """
      WITH f AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(event_type) OVER w IS NULL
                      OR lag(event_type) OVER w <> event_type
                    THEN 1 ELSE 0 END AS new_i
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      i AS (
        SELECT user_id, ts, event_type,
               sum(new_i) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS island
        FROM f)
      SELECT user_id, event_type, min(ts) AS start_ts, max(ts) AS end_ts,
             count(*) AS n_records
      FROM i GROUP BY user_id, event_type, island
      ORDER BY user_id, start_ts"""),

  /** J7 nearest-match join: per supplier, the same-nation customer with
    * closest account balance (argmin + tiebreak). */
  Query("q22_nearest_match") { (s, dir) =>
    val sup = t(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey").as("nationkey"),
              col("s_acctbal"))
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey").as("nationkey"),
              col("c_acctbal"))
    JoinOps.nearestMatch(broadcast(sup), cust, Seq("nationkey"),
        Seq("s_suppkey"),
        rnd(abs(col("s_acctbal") - col("c_acctbal")), 2),
        Seq(col("c_custkey")))
      .select(col("s_suppkey"), col("c_custkey"),
        rnd(abs(col("s_acctbal") - col("c_acctbal")), 2).as("bal_diff"))
      .orderBy("s_suppkey")
  } (oracle = """
      SELECT s_suppkey, c_custkey, bal_diff FROM (
        SELECT s_suppkey, c_custkey,
               floor((abs(s_acctbal - c_acctbal)) * 100.0 + 0.5) / 100.0 AS bal_diff,
               row_number() OVER (PARTITION BY s_suppkey
                 ORDER BY floor((abs(s_acctbal - c_acctbal)) * 100.0 + 0.5) / 100.0, c_custkey) AS rn
        FROM supplier JOIN customer ON s_nationkey = c_nationkey)
      WHERE rn = 1 ORDER BY s_suppkey"""),

  /** E3/J1 union with kind tags: parties per nation. */
  Query("q23_union_kinds") { (s, dir) =>
    val cust = t(s, dir, "customer")
      .select(col("c_nationkey").as("nationkey")).withColumn("kind", lit("cust"))
    val supp = t(s, dir, "supplier")
      .select(col("s_nationkey").as("nationkey")).withColumn("kind", lit("supp"))
    cust.unionByName(supp)
      .groupBy("nationkey")
      .agg(count(when(col("kind") === "cust", 1)).as("n_cust"),
           count(when(col("kind") === "supp", 1)).as("n_supp"))
      .orderBy("nationkey")
  } (oracle = """
      WITH u AS (
        SELECT c_nationkey AS nationkey, 'cust' AS kind FROM customer
        UNION ALL
        SELECT s_nationkey AS nationkey, 'supp' AS kind FROM supplier)
      SELECT nationkey,
             count(CASE WHEN kind = 'cust' THEN 1 END) AS n_cust,
             count(CASE WHEN kind = 'supp' THEN 1 END) AS n_supp
      FROM u GROUP BY nationkey ORDER BY nationkey"""),

  /** A11 strict sum (skipna=False): null if any member null. */
  Query("q24_strict_sum") { (s, dir) =>
    val masked = t(s, dir, "lineitem")
      .withColumn("q_masked", TimeSeriesOps.maskRange(col("l_quantity"), 5.0, 45.0))
    masked.groupBy("l_returnflag").agg(
        when(count(lit(1)) === count(col("q_masked")),
          rnd(sum(col("q_masked")), 2)).as("strict_sum"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")
  } (oracle = """
      WITH m AS (
        SELECT l_returnflag,
               CASE WHEN l_quantity BETWEEN 5.0 AND 45.0 THEN l_quantity END AS q_masked
        FROM lineitem)
      SELECT l_returnflag,
             CASE WHEN count(*) = count(q_masked)
                  THEN floor((sum(q_masked)) * 100.0 + 0.5) / 100.0 END AS strict_sum,
             count(*) AS n_rows
      FROM m GROUP BY l_returnflag ORDER BY l_returnflag"""),

  /** TOA5 codec round-trip (S1/S4/K1/K2/D6): hourly event means ->
    * TOA5 file on disk -> codec read-back. Hash-matching the direct
    * aggregation oracle proves the codec is value-stable end-to-end. */
  Query("q34_toa5_roundtrip") { (s, dir) =>
    import graft.core.{FileInfo, TableMeta, VariableMeta}
    val agg = t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("DATETIME"))
      .agg(rnd(avg(col("value")), 6).as("avg_value"),
           count(lit(1)).cast("double").as("n"))
    val meta = TableMeta(
      FileInfo("TOA5", "EventsSite", "CR1000X", "1", "os", "prog", "1", "hourly"),
      Seq(VariableMeta("TIMESTAMP", "TS", ""),
        VariableMeta("avg_value", "arb", "Avg"),
        VariableMeta("n", "samples", "Tot")))
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_q34/hourly.dat"
    graft.sources.Toa5.write(agg, meta, path)
    graft.sources.Toa5.read(s, path).data
      .select(col("DATETIME").as("hour_ts"), col("avg_value"), col("n"))
      .orderBy("hour_ts")
  } (oracle = """
      SELECT date_trunc('hour', ts) AS hour_ts,
             floor((avg(value)) * 1000000.0 + 0.5) / 1000000.0 AS avg_value,
             count(*)::DOUBLE AS n
      FROM events GROUP BY 1 ORDER BY 1"""),

  /** F26 FP2 decode via the custom Catalyst expression, oracle-checked
    * against the equivalent bit arithmetic in SQL. Sentinel raws are
    * filtered (inf/NaN don't hash-compare). */
  Query("q35_fp2_decode") { (s, dir) =>
    val raw = (col("l_partkey") % 65536).cast("int")
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), raw.as("raw"))
      .filter(!col("raw").isin(0x1fff, 0x9fff, 0x9ffe))
      .select(col("l_orderkey"), col("l_linenumber"),
        graft.functions.Fp2.fp2(col("raw")).as("fp2_val"))
      .orderBy("l_orderkey", "l_linenumber")
  } (oracle = """
      WITH r AS (SELECT l_orderkey, l_linenumber,
                        (l_partkey % 65536)::INTEGER AS raw FROM lineitem)
      SELECT l_orderkey, l_linenumber,
             (CASE WHEN (raw & 32768) != 0 THEN -1.0 ELSE 1.0 END)
               * (raw & 8191) * power(10.0, -((raw & 24576) >> 13)) AS fp2_val
      FROM r WHERE raw NOT IN (8191, 40959, 40958)
      ORDER BY l_orderkey, l_linenumber"""),

  /** S8 TOB1 binary round-trip: events encoded to a TOB1 file
    * (1990-epoch SECONDS/NANOSECONDS + IEEE4 value), decoded back by
    * `Tob.read` (the V2 `format("tob")` scan); hash-matches the plain
    * projection oracle iff timestamps and float payloads survive
    * bit-exactly. */
  Query("q36_tob1_roundtrip") { (s, dir) =>
    val path = tobFixture(s, dir, "graft_q36")
    graft.sources.Tob.read(s, path).data
      .select(col("DATETIME"), col("value").cast("double").as("value"))
      .orderBy("DATETIME")
  } (oracle = """
      SELECT ts AS DATETIME, value::FLOAT::DOUBLE AS value
      FROM (SELECT ts, value FROM events
            ORDER BY ts, event_id LIMIT 20000)
      ORDER BY DATETIME"""),

  /** A10/A11/W1 profile storage-flux pipeline: events shaped into a
    * (time, height) concentration profile, then layer means (bottom
    * intake + adjacent-height averages), per-layer time derivative
    * scaled by layer depth, and the strict any-null-nulls sum. */
  Query("q38_profile_storage") { (s, dir) =>
    import graft.operators.ProfileOps
    val profile = t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("DATETIME"),
        (lit(0.5) + (col("user_id") % 4).cast("double") * 2.0).as("height"))
      .agg(rnd(avg(col("value")), 6).as("co2"))
    val layers = ProfileOps.layerMeans(profile, "DATETIME", "height", "co2")
    val storage = ProfileOps.layerStorage(layers, "DATETIME", "height", 3600)
    // Fixed-order sum over the 4 known heights: summation order is
    // engine-dependent inside sum(), and a 4-term float sum can land
    // exactly on a rounding half-boundary; s1+s2+s3+s4 is
    // bit-deterministic and null-propagating (= strict sum).
    val hs = Seq(0.5, 2.5, 4.5, 6.5)
    storage.groupBy(col("DATETIME")).agg(
        max(when(col("height") === hs(0), col("layer_storage"))).as("s1"),
        max(when(col("height") === hs(1), col("layer_storage"))).as("s2"),
        max(when(col("height") === hs(2), col("layer_storage"))).as("s3"),
        max(when(col("height") === hs(3), col("layer_storage"))).as("s4"),
        count(lit(1)).as("n_layers"))
      .select(col("DATETIME"),
        rnd(col("s1") + col("s2") + col("s3") + col("s4"), 6)
          .as("storage_flux"),
        col("n_layers"))
      .orderBy("DATETIME")
  } (oracle = """
      WITH profile AS (
        SELECT date_trunc('hour', ts) AS dt,
               0.5 + (user_id % 4)::DOUBLE * 2.0 AS height,
               floor((avg(value)) * 1000000.0 + 0.5) / 1000000.0 AS co2
        FROM events GROUP BY 1, 2),
      layers AS (
        SELECT dt, height,
               CASE WHEN lag(co2) OVER w IS NULL THEN co2
                    ELSE (co2 + lag(co2) OVER w) / 2.0 END AS layer_value,
               CASE WHEN lag(height) OVER w IS NULL THEN height
                    ELSE height - lag(height) OVER w END AS layer_depth
        FROM profile WINDOW w AS (PARTITION BY dt ORDER BY height)),
      storage AS (
        SELECT dt, height,
               (layer_value - lag(layer_value) OVER
                 (PARTITION BY height ORDER BY dt)) / 3600.0
                 * layer_depth AS layer_storage
        FROM layers)
      SELECT dt AS DATETIME,
             floor((s1 + s2 + s3 + s4) * 1000000.0 + 0.5)
               / 1000000.0 AS storage_flux,
             n_layers
      FROM (SELECT dt,
              max(CASE WHEN height = 0.5 THEN layer_storage END) AS s1,
              max(CASE WHEN height = 2.5 THEN layer_storage END) AS s2,
              max(CASE WHEN height = 4.5 THEN layer_storage END) AS s3,
              max(CASE WHEN height = 6.5 THEN layer_storage END) AS s4,
              count(*) AS n_layers
            FROM storage GROUP BY dt)
      ORDER BY DATETIME"""),

  /** As-of join (backward): for each event, the latest purchase event
    * of the same user at-or-before it — single window pass via the
    * union trick (one shuffle on (user, ts)), checked against DuckDB's
    * native ASOF JOIN. */
  Query("q39_asof_join") { (s, dir) =>
    val events = t(s, dir, "events").select("event_id", "user_id", "ts")
    val purchases = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"))
      .withColumn("last_purchase_ts", col("p_ts"))
    graft.operators.JoinOps.asofJoinBackward(
        events, purchases, Seq("user_id"), "ts", "p_ts",
        Seq("last_purchase_ts"))
      .select("event_id", "user_id", "last_purchase_ts")
      .orderBy("event_id")
  } (oracle = """
      SELECT e.event_id, e.user_id, p.ts AS last_purchase_ts
      FROM events e ASOF LEFT JOIN
        (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
        ON e.user_id = p.user_id AND e.ts >= p.ts
      ORDER BY e.event_id"""),

  /** Trailing-24h rolling mean per user via a RANGE frame on the
    * microsecond axis. Values are snapped to exact integer cents
    * before summing (floor(v*100+0.5) -> long), so the rolling sum is
    * integer-exact in both engines and needs no output rounding. */
  Query("q40_rolling_24h") { (s, dir) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"))
      .rangeBetween(-86400000000L, 0L)
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
      .withColumn("sum_cents", sum(col("cents")).over(w))
      .withColumn("n_24h", count(lit(1)).over(w))
      .select(col("event_id"), col("user_id"),
        (col("sum_cents").cast("double")
          / (col("n_24h") * 100.0)).as("avg_24h"),
        col("n_24h"))
      .orderBy("event_id")
  } (oracle = """
      WITH c AS (
        SELECT event_id, user_id, epoch_us(ts) AS us,
               floor(value * 100.0 + 0.5)::BIGINT AS cents
        FROM events)
      SELECT event_id, user_id,
             (sum(cents) OVER w)::DOUBLE
               / ((count(*) OVER w) * 100.0) AS avg_24h,
             count(*) OVER w AS n_24h
      FROM c
      WINDOW w AS (PARTITION BY user_id ORDER BY us
        RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
      ORDER BY event_id"""),

  /** DSv2 TOA5 scan (SURVEY §7.3 phase-2): the q34 product read back
    * through `format("toa5")` with a projection + DATETIME filter —
    * column pruning into the V2 parse, the filter evaluated by Spark
    * above the scan, oracle-checked like any other query. */
  Query("q44_toa5_v2_scan") { (s, dir) =>
    import graft.core.{FileInfo, TableMeta, VariableMeta}
    val agg = t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("DATETIME"))
      .agg(rnd(avg(col("value")), 6).as("avg_value"),
           count(lit(1)).cast("double").as("n"))
    val meta = TableMeta(
      FileInfo("TOA5", "EventsSite", "CR1000X", "1", "os", "prog", "1", "hourly"),
      Seq(VariableMeta("TIMESTAMP", "TS", ""),
        VariableMeta("avg_value", "arb", "Avg"),
        VariableMeta("n", "samples", "Tot")))
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_q44/hourly.dat"
    graft.sources.Toa5.write(agg, meta, path)
    s.read.format("toa5").load(path)
      .filter(col("DATETIME") >=
        lit(java.sql.Timestamp.valueOf("2024-01-15 00:00:00")))
      .select(col("DATETIME").as("hour_ts"), col("avg_value"))
      .orderBy("hour_ts")
  } (oracle = """
      SELECT date_trunc('hour', ts) AS hour_ts,
             floor((avg(value)) * 1000000.0 + 0.5) / 1000000.0 AS avg_value
      FROM events GROUP BY 1
      HAVING date_trunc('hour', ts) >= TIMESTAMP '2024-01-15 00:00:00'
      ORDER BY 1"""),

  /** TOB binary DSv2 (SURVEY §7.3 phase-2): the q36 TOB1 product read
    * back through `format("tob")` — frame decode inside the V2
    * partition reader, oracle-checked. */
  Query("q46_tob_v2_scan") { (s, dir) =>
    val path = tobFixture(s, dir, "graft_q46")
    s.read.format("tob").load(path)
      .select(col("DATETIME"), col("value").cast("double").as("value"))
      .orderBy("DATETIME")
  } (oracle = """
      SELECT ts AS DATETIME, value::FLOAT::DOUBLE AS value
      FROM (SELECT ts, value FROM events
            ORDER BY ts, event_id LIMIT 20000)
      ORDER BY DATETIME"""),

  /** S9 TOB3 frame roundtrip: 997 event values laid out 10 records
    * per frame at 100 ms (reference frame semantics:
    * read_cs_files.py:312-500) — frame 3 carries an invalid
    * validation stamp (decoder must skip its 10 records) and the
    * trailing 7-record frame is minor (footer word0 = used bytes).
    * The oracle recomputes the surviving (DATETIME, RECORD) grid
    * arithmetically, so stamp validation, minor-frame record counts,
    * and sub-record timestamping are all hash-checked. */
  Query("q47_tob3_roundtrip") { (s, dir) =>
    val vals = t(s, dir, "events")
      .select(col("ts"), col("value"), col("event_id"))
      .orderBy(col("ts"), col("event_id")).limit(997).collect()
      .map(r => Seq(r.getDouble(1).toFloat)).toSeq
    val baseUs = java.time.LocalDateTime.of(2024, 6, 1, 0, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_q47/fast.dat"
    graft.sources.Tob.writeTob3(path,
      Seq("TOB3", "EventsSite", "CR3000", "1", "os", "prog", "1"),
      "fast", Seq("value"), vals, baseUs, 100000L, 10,
      corruptFrames = Set(3))
    graft.sources.Tob.read(s, path).data
      .select(col("DATETIME"), col("RECORD"),
        col("value").cast("double").as("value"))
      .orderBy("RECORD")
  } (oracle = """
      WITH o AS (SELECT ts, event_id, value FROM events
                 ORDER BY ts, event_id LIMIT 997),
      v AS (SELECT value::FLOAT::DOUBLE AS value,
              row_number() OVER (ORDER BY ts, event_id) - 1 AS r
            FROM o)
      SELECT make_timestamp(1717200000000000 + r * 100000) AS DATETIME,
             r AS RECORD, value
      FROM v WHERE r // 10 <> 3
      ORDER BY RECORD"""),

  /** K3 EddyPro writer roundtrip: hourly event means through the
    * tab-separated DATAH/DATAU summary format (file_io.py:721-841)
    * and back via the format-sniffing reader; hash-matches the direct
    * aggregation oracle, proving the writer/reader pair is
    * value-stable (numbers, NaN token, date/time split columns). */
  Query("q48_eddypro_roundtrip") { (s, dir) =>
    import graft.core.{TableMeta, VariableMeta, FileInfo}
    val agg = t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("DATETIME"))
      .agg(rnd(avg(col("value")), 6).as("avg_value"),
           count(lit(1)).cast("double").as("n"))
    val meta = TableMeta(FileInfo.dummy,
      Seq(VariableMeta("avg_value", "arb", "Avg"),
        VariableMeta("n", "samples", "Tot")))
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_q48/ep.txt"
    graft.sources.Toa5.writeEddyPro(agg, meta, path, "ep.txt")
    graft.sources.Toa5.read(s, path).data
      .select(col("DATETIME").as("hour_ts"), col("avg_value"), col("n"))
      .orderBy("hour_ts")
  } (oracle = """
      SELECT date_trunc('hour', ts) AS hour_ts,
             floor((avg(value)) * 1000000.0 + 0.5) / 1000000.0 AS avg_value,
             count(*)::DOUBLE AS n
      FROM events GROUP BY 1 ORDER BY 1"""),

  /** K4/S11 netCDF product roundtrip: hourly event means through the
    * lake -> a real classic-format .nc (CF time since 1800-01-01,
    * crs + QC flag variables, recomputed global attrs) -> the netCDF
    * scan seam. Hash-matching the direct aggregation oracle proves
    * the .nc byte path is value-stable end-to-end. */
  Query("q52_netcdf_roundtrip") { (s, dir) =>
    import graft.core.{TableMeta, VariableMeta, FileInfo}
    import graft.pipeline.L1Pipeline
    val agg = t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("DATETIME"))
      .agg(rnd(avg(col("value")), 6).as("avg_value"))
    val meta = TableMeta(FileInfo.dummy,
      Seq(VariableMeta("avg_value", "arb", "Avg")))
    val lake = s"${System.getProperty("java.io.tmpdir")}/graft_q52"
    L1Pipeline.writeLake(L1Pipeline.Conditioned(agg, meta),
      "DATETIME", 3600, lake, "EventsSite")
    val nc = s"$lake/EventsSite_2024_L1.nc"
    L1Pipeline.writeNetCdfYear(s, lake, 2024, "EventsSite",
      -35.5, 148.25, 3600, nc)
    L1Pipeline.readNetCdf(s, nc)
      .select(col("DATETIME"), col("avg_value"), col("avg_value_QCFlag"))
      .orderBy("DATETIME")
  } (oracle = """
      WITH h AS (
        SELECT date_trunc('hour', ts) AS DATETIME,
               floor((avg(value)) * 1000000.0 + 0.5) / 1000000.0
                 AS avg_value
        FROM events GROUP BY 1)
      SELECT DATETIME, avg_value,
             CASE WHEN avg_value IS NULL THEN 1 ELSE 0 END
               AS avg_value_QCFlag
      FROM h
      WHERE year(DATETIME - INTERVAL 1 HOUR) = 2024
      ORDER BY DATETIME"""),

  /** K6/S12 xlsx roundtrip: hourly event means through the OOXML
    * writer and back through the sheet reader — hash-matching the
    * direct aggregation oracle proves cell values (numbers as
    * shortest-repr doubles, strings) survive the workbook byte path
    * exactly. */
  Query("q53_xlsx_roundtrip") { (s, dir) =>
    import graft.pipeline.Xlsx
    val agg = t(s, dir, "events")
      .groupBy(date_format(date_trunc("hour", col("ts")),
        "yyyy-MM-dd HH:mm:ss").as("hour_ts"))
      .agg(rnd(avg(col("value")), 6).as("avg_value"),
           count(lit(1)).cast("double").as("n"))
      .orderBy("hour_ts")
    val rows = agg.collect()
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_q53/st.xlsx"
    Xlsx.write(path, Seq(Xlsx.Sheet("Data",
      Seq(Xlsx.Cell("hour_ts"), Xlsx.Cell("avg_value"), Xlsx.Cell("n")) +:
        rows.toSeq.map(r => Seq(Xlsx.Cell(r.getString(0)),
          Xlsx.Cell(r.getDouble(1)), Xlsx.Cell(r.getDouble(2)))))), Nil)
    Xlsx.readSheet(s, path, "Data").orderBy("hour_ts")
  } (oracle = """
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
               AS hour_ts,
             floor((avg(value)) * 1000000.0 + 0.5) / 1000000.0
               AS avg_value,
             count(*)::DOUBLE AS n
      FROM events GROUP BY 1 ORDER BY 1"""),

  /** A14 fast-file window partitioning: end-labelled 30-min buckets
    * ((start, end] per fast_file_io.py:444-596) with completeness
    * stats — the bucket arithmetic behind shard naming, oracle-checked
    * in pure integer time math. */
  Query("q49_fastdata_windows") { (s, dir) =>
    graft.pipeline.FastData.windowStats(
        t(s, dir, "events").select(col("ts")), "ts", 30, 0.1)
      .orderBy("window_end")
  } (oracle = """
      WITH b AS (SELECT epoch_us(ts)
            + ((1800000000 - epoch_us(ts) % 1800000000) % 1800000000)
            AS wus
          FROM events)
      SELECT make_timestamp(wus) AS window_end, count(*) AS n_rows,
             180 AS n_expected,
             count(*)::DOUBLE / 180 * 100.0 AS pct_complete
      FROM b GROUP BY wus ORDER BY window_end"""),

  /** J2+J3: the L1 merge heart (file_concatenators.py:187-455 +
    * file_handler.py:534-605). A master hourly frame and a
    * vertically-overlapping candidate run the full legality analysis —
    * anti-join new-date existence, A2 interval inference on both
    * sides, variable intersection, and the unit-alias table (degC~C) —
    * then two variable frames take the horizontal full-outer time
    * merge. The legality scalars ride on every merged row and the
    * oracle re-derives them from the data (NOT EXISTS set-diff +
    * mode-of-deltas SQL), so the verdict itself is hash-checked. */
  Query("q54_merge_legality") { (s, dir) =>
    import graft.core.{FileInfo, TableMeta, VariableMeta}
    import graft.pipeline.MergeLegality
    val e = t(s, dir, "events")
    def hourly(evType: String, from: String, until: String,
        vName: String, withCount: Boolean): DataFrame = {
      val sub = e.filter(col("event_type") === evType &&
          col("ts") >= to_timestamp(lit(from)) &&
          col("ts") < to_timestamp(lit(until)))
        .withColumn("hour_ts", date_trunc("hour", col("ts")))
      val grid = sub.agg(min(col("hour_ts")).as("t0"),
          max(col("hour_ts")).as("t1"))
        .select(explode(sequence(col("t0"), col("t1"),
          expr("INTERVAL 1 HOUR"))).as("hour_ts"))
      val base = grid.join(sub, Seq("hour_ts"), "left").groupBy("hour_ts")
      // Order-invariant hourly mean: quantize each value to exact
      // micro-BIGINTs, sum exactly, divide once. A raw avg() is
      // summation-order-dependent, and at sf0.1 (~800 values/hour)
      // the accumulated ulp noise flipped the floor in 8/1440 cells
      // between Spark and DuckDB (caught by the local sf0.1 gate —
      // the driver's sf0.01 gate never hit a boundary). The output
      // differs from rnd(avg) by at most 0.5e-6.
      val q = floor(col("value") * 1e6 + lit(0.5)).cast("long")
      val meanQ = (floor(sum(q).cast("double") / count(col("value"))
        + lit(0.5)) / 1e6).as(vName)
      if (withCount) base.agg(meanQ, count(col("value")).as("n_click"))
      else base.agg(meanQ)
    }
    val master = hourly("click", "2024-01-01 00:00:00",
      "2024-01-21 00:00:00", "v_click", withCount = true)
    val candidate = hourly("click", "2024-01-15 00:00:00",
      "2024-01-31 00:00:00", "v_click", withCount = false)
    val views = hourly("view", "2024-01-15 00:00:00",
      "2024-01-31 00:00:00", "v_view", withCount = false)
    val metaMaster = TableMeta(FileInfo.dummy,
      Seq(VariableMeta("TIMESTAMP", "TS", ""),
        VariableMeta("v_click", "degC", "Avg"),
        VariableMeta("n_click", "n", "Tot")))
    val metaCand = TableMeta(FileInfo.dummy,
      Seq(VariableMeta("TIMESTAMP", "TS", ""),
        VariableMeta("v_click", "C", "Avg")))
    val rep = MergeLegality.analyse(master, metaMaster, candidate,
      metaCand, "hour_ts")
    JoinOps.mergeOnTime(
        Seq(master.select("hour_ts", "v_click"), views), Seq("hour_ts"))
      .withColumn("contributes_new_dates", lit(rep.contributesNewDates))
      .withColumn("same_interval", lit(rep.sameInterval))
      .withColumn("master_interval_sec", lit(rep.masterIntervalSec))
      .withColumn("candidate_interval_sec", lit(rep.candidateIntervalSec))
      .withColumn("n_common_vars", lit(rep.commonVariables.length))
      .withColumn("n_master_only", lit(rep.masterOnlyVariables.length))
      .withColumn("n_candidate_only",
        lit(rep.candidateOnlyVariables.length))
      .withColumn("n_unit_conflicts", lit(rep.unitConflicts.length))
      .withColumn("legal", lit(rep.legal))
      .orderBy("hour_ts")
  } (oracle = """
      WITH mh AS (SELECT date_trunc('hour', ts) AS hour_ts, value
             FROM events WHERE event_type = 'click'
               AND ts >= TIMESTAMP '2024-01-01 00:00:00'
               AND ts <  TIMESTAMP '2024-01-21 00:00:00'),
      mspan AS (SELECT min(hour_ts) AS t0, max(hour_ts) AS t1 FROM mh),
      mgrid AS (SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR))
                  AS hour_ts FROM mspan),
      m AS (SELECT g.hour_ts,
              -- order-invariant mean: exact micro-BIGINT sum, one division
              floor(sum(floor(h.value * 1000000.0 + 0.5))::DOUBLE
                  / count(h.value) + 0.5) / 1000000.0
                AS v_click
            FROM mgrid g LEFT JOIN mh h ON h.hour_ts = g.hour_ts
            GROUP BY g.hour_ts),
      ch AS (SELECT date_trunc('hour', ts) AS hour_ts
             FROM events WHERE event_type = 'click'
               AND ts >= TIMESTAMP '2024-01-15 00:00:00'
               AND ts <  TIMESTAMP '2024-01-31 00:00:00'),
      cspan AS (SELECT min(hour_ts) AS t0, max(hour_ts) AS t1 FROM ch),
      c AS (SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR))
              AS hour_ts FROM cspan),
      vh AS (SELECT date_trunc('hour', ts) AS hour_ts, value
             FROM events WHERE event_type = 'view'
               AND ts >= TIMESTAMP '2024-01-15 00:00:00'
               AND ts <  TIMESTAMP '2024-01-31 00:00:00'),
      vspan AS (SELECT min(hour_ts) AS t0, max(hour_ts) AS t1 FROM vh),
      vgrid AS (SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR))
                  AS hour_ts FROM vspan),
      v AS (SELECT g.hour_ts,
              floor(sum(floor(h.value * 1000000.0 + 0.5))::DOUBLE
                  / count(h.value) + 0.5) / 1000000.0
                AS v_view
            FROM vgrid g LEFT JOIN vh h ON h.hour_ts = g.hour_ts
            GROUP BY g.hour_ts),
      mint AS (SELECT d FROM (
                 SELECT (epoch_us(hour_ts) - lag(epoch_us(hour_ts))
                   OVER (ORDER BY hour_ts)) // 1000000 AS d FROM m)
               WHERE d IS NOT NULL
               GROUP BY d ORDER BY count(*) DESC, d ASC LIMIT 1),
      cint AS (SELECT d FROM (
                 SELECT (epoch_us(hour_ts) - lag(epoch_us(hour_ts))
                   OVER (ORDER BY hour_ts)) // 1000000 AS d FROM c)
               WHERE d IS NOT NULL
               GROUP BY d ORDER BY count(*) DESC, d ASC LIMIT 1),
      newd AS (SELECT EXISTS (SELECT 1 FROM c
                 WHERE NOT EXISTS (SELECT 1 FROM m
                   WHERE m.hour_ts = c.hour_ts)) AS b)
      SELECT coalesce(m.hour_ts, v.hour_ts) AS hour_ts,
             m.v_click, v.v_view,
             (SELECT b FROM newd) AS contributes_new_dates,
             ((SELECT d FROM mint) = (SELECT d FROM cint))
               AS same_interval,
             (SELECT d FROM mint) AS master_interval_sec,
             (SELECT d FROM cint) AS candidate_interval_sec,
             1 AS n_common_vars,
             1 AS n_master_only,
             0 AS n_candidate_only,
             0 AS n_unit_conflicts,
             ((SELECT b FROM newd)
               AND (SELECT d FROM mint) = (SELECT d FROM cint)) AS legal
      FROM m FULL OUTER JOIN v ON m.hour_ts = v.hour_ts
      ORDER BY hour_ts"""),

  /** J2 negative-path merge legality with a LOAD-BEARING alias table:
    * unlike q54 (where the variable-set verdicts are fixture-known
    * constants in the oracle), every count here is re-derived by the
    * oracle from the same VALUES metadata — the full-outer variable
    * join, the unit-alias equivalence (degC~C ok, mm vs degC conflict,
    * m^3/m^3~fraction ok), and the candidate-only/master-only diffs —
    * and the candidate's date span sits strictly inside the master's,
    * so the no-new-dates + unit-conflict ILLEGAL branch is what gets
    * hash-checked. One row per variable in the union of both metas. */
  Query("q57_merge_units") { (s, dir) =>
    import graft.core.{FileInfo, TableMeta, VariableMeta}
    import graft.pipeline.MergeLegality
    import s.implicits._
    val e = t(s, dir, "events")
    def grid(from: String, until: String): DataFrame = {
      val sub = e.filter(col("event_type") === "click" &&
          col("ts") >= to_timestamp(lit(from)) &&
          col("ts") < to_timestamp(lit(until)))
        .withColumn("hour_ts", date_trunc("hour", col("ts")))
      sub.agg(min(col("hour_ts")).as("t0"), max(col("hour_ts")).as("t1"))
        .select(explode(sequence(col("t0"), col("t1"),
          expr("INTERVAL 1 HOUR"))).as("hour_ts"))
    }
    val master = grid("2024-01-01 00:00:00", "2024-01-21 00:00:00")
    val candidate = grid("2024-01-05 00:00:00", "2024-01-10 00:00:00")
    val metaMaster = TableMeta(FileInfo.dummy, Seq(
      VariableMeta("TIMESTAMP", "TS", ""),
      VariableMeta("Ta", "degC", "Avg"), VariableMeta("RH", "%", "Avg"),
      VariableMeta("Precip", "mm", "Tot"), VariableMeta("Ws", "m/s", "Avg"),
      VariableMeta("Sws", "m^3/m^3", "Avg")))
    val metaCand = TableMeta(FileInfo.dummy, Seq(
      VariableMeta("TIMESTAMP", "TS", ""),
      VariableMeta("Ta", "C", "Avg"), VariableMeta("RH", "%", "Avg"),
      VariableMeta("Precip", "degC", "Tot"),
      VariableMeta("Sws", "fraction", "Avg"),
      VariableMeta("Fco2", "umol/m^2/s", "Avg")))
    val rep = MergeLegality.analyse(master, metaMaster, candidate,
      metaCand, "hour_ts")
    val mdf = metaMaster.variables.filterNot(_.name == "TIMESTAMP")
      .map(v => (v.name, v.units)).toDF("variable", "master_units")
    val cdf = metaCand.variables.filterNot(_.name == "TIMESTAMP")
      .map(v => (v.name, v.units)).toDF("variable", "candidate_units")
    val aliasPairs = MergeLegality.DefaultUnitAliases
      .flatMap(g => for (a <- g.toSeq; b <- g.toSeq if a != b) yield (a, b))
      .toDF("ua", "ub")
    mdf.join(cdf, Seq("variable"), "full_outer")
      .withColumn("in_common",
        col("master_units").isNotNull && col("candidate_units").isNotNull)
      .join(aliasPairs, col("master_units") === col("ua") &&
        col("candidate_units") === col("ub"), "left")
      .withColumn("units_conflict", col("in_common") &&
        col("master_units") =!= col("candidate_units") && col("ua").isNull)
      .drop("ua", "ub")
      .withColumn("contributes_new_dates", lit(rep.contributesNewDates))
      .withColumn("same_interval", lit(rep.sameInterval))
      .withColumn("n_common_vars", lit(rep.commonVariables.length))
      .withColumn("n_master_only", lit(rep.masterOnlyVariables.length))
      .withColumn("n_candidate_only",
        lit(rep.candidateOnlyVariables.length))
      .withColumn("n_unit_conflicts", lit(rep.unitConflicts.length))
      .withColumn("legal", lit(rep.legal))
      .orderBy("variable")
  } (oracle = """
      WITH mm(variable, units) AS (VALUES
        ('Ta','degC'),('RH','%'),('Precip','mm'),('Ws','m/s'),
        ('Sws','m^3/m^3')),
      cm(variable, units) AS (VALUES
        ('Ta','C'),('RH','%'),('Precip','degC'),('Sws','fraction'),
        ('Fco2','umol/m^2/s')),
      al(ua, ub) AS (VALUES
        ('degC','C'),('C','degC'),
        ('n','arb'),('arb','n'),('n','samples'),('samples','n'),
        ('arb','samples'),('samples','arb'),
        ('m^3/m^3','fraction'),('fraction','m^3/m^3')),
      j AS (SELECT coalesce(mm.variable, cm.variable) AS variable,
              mm.units AS master_units, cm.units AS candidate_units,
              (mm.variable IS NOT NULL AND cm.variable IS NOT NULL)
                AS in_common,
              (mm.variable IS NOT NULL AND cm.variable IS NOT NULL
                AND mm.units <> cm.units
                AND NOT EXISTS (SELECT 1 FROM al
                  WHERE al.ua = mm.units AND al.ub = cm.units))
                AS units_conflict
            FROM mm FULL OUTER JOIN cm ON mm.variable = cm.variable),
      mh AS (SELECT DISTINCT date_trunc('hour', ts) AS hour_ts
             FROM events WHERE event_type = 'click'
               AND ts >= TIMESTAMP '2024-01-01 00:00:00'
               AND ts <  TIMESTAMP '2024-01-21 00:00:00'),
      mspan AS (SELECT min(hour_ts) AS t0, max(hour_ts) AS t1 FROM mh),
      mgrid AS (SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR))
                  AS hour_ts FROM mspan),
      ch AS (SELECT DISTINCT date_trunc('hour', ts) AS hour_ts
             FROM events WHERE event_type = 'click'
               AND ts >= TIMESTAMP '2024-01-05 00:00:00'
               AND ts <  TIMESTAMP '2024-01-10 00:00:00'),
      cspan AS (SELECT min(hour_ts) AS t0, max(hour_ts) AS t1 FROM ch),
      cgrid AS (SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR))
                  AS hour_ts FROM cspan),
      mint AS (SELECT d FROM (
                 SELECT (epoch_us(hour_ts) - lag(epoch_us(hour_ts))
                   OVER (ORDER BY hour_ts)) // 1000000 AS d FROM mgrid)
               WHERE d IS NOT NULL
               GROUP BY d ORDER BY count(*) DESC, d ASC LIMIT 1),
      cint AS (SELECT d FROM (
                 SELECT (epoch_us(hour_ts) - lag(epoch_us(hour_ts))
                   OVER (ORDER BY hour_ts)) // 1000000 AS d FROM cgrid)
               WHERE d IS NOT NULL
               GROUP BY d ORDER BY count(*) DESC, d ASC LIMIT 1),
      newd AS (SELECT EXISTS (SELECT 1 FROM cgrid c
                 WHERE NOT EXISTS (SELECT 1 FROM mgrid m
                   WHERE m.hour_ts = c.hour_ts)) AS b)
      SELECT variable, master_units, candidate_units, in_common,
             units_conflict,
             (SELECT b FROM newd) AS contributes_new_dates,
             ((SELECT d FROM mint) = (SELECT d FROM cint))
               AS same_interval,
             (SELECT count(*) FROM j WHERE in_common)::INTEGER
               AS n_common_vars,
             (SELECT count(*) FROM j WHERE candidate_units IS NULL)::INTEGER
               AS n_master_only,
             (SELECT count(*) FROM j WHERE master_units IS NULL)::INTEGER
               AS n_candidate_only,
             (SELECT count(*) FROM j WHERE units_conflict)::INTEGER
               AS n_unit_conflicts,
             ((SELECT b FROM newd)
               AND (SELECT d FROM mint) = (SELECT d FROM cint)
               AND (SELECT count(*) FROM j WHERE in_common) > 0
               AND (SELECT count(*) FROM j WHERE units_conflict) = 0)
               AS legal
      FROM j ORDER BY variable"""),

  /** K7/K8 parse-back: the per-user A9 status stats render through
    * BOTH text sinks — the geojson FeatureCollection (properties +
    * Point coordinates) and the site-details JSON array — then each
    * file is re-read with Spark's JSON reader and the two parses are
    * unioned under a `source` tag. Hash-matching the direct-aggregation
    * oracle (× 2 sources) proves both byte paths (escaping, number
    * rendering, null handling, coordinate ordering) are value-exact.
    * Collects are bounded: one row per user/site. */
  Query("q58_status_artifacts") { (s, dir) =>
    import graft.operators.TimeSeriesOps
    import graft.pipeline.Status
    val now = java.sql.Timestamp.valueOf("2024-01-30 12:00:00")
    val st = TimeSeriesOps.variableStatus(
        t(s, dir, "events"), "ts", "value", now, Seq("user_id"))
      .withColumn("days_since_last", rnd(col("days_since_last"), 6))
      .withColumn("status_bucket",
        Status.stalenessBucket(col("days_since_last")))
      .withColumn("lat",
        lit(-30.0) - (col("user_id") % 10).cast("double") * 0.5)
      .withColumn("lon",
        lit(140.0) + (col("user_id") % 7).cast("double") * 0.25)
      .select(col("user_id"),
        date_format(col("last_ts"), "yyyy-MM-dd HH:mm:ss").as("last_ts"),
        col("n_24h"), col("n_valid_24h"), col("days_since_last"),
        col("status_bucket"), col("lat"), col("lon"))
    val base = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_q58")
    val gj = base.resolve("status.geojson").toString
    val ja = base.resolve("details.json").toString
    Status.writeGeojson(st, gj, "user_id", "lat", "lon")
    Status.writeJsonArray(st, ja)
    val fromGeo = s.read.option("multiLine", true).json(gj)
      .select(explode(col("features")).as("f"))
      .select(
        col("f.properties.user_id").as("user_id"),
        col("f.properties.last_ts").as("last_ts"),
        col("f.properties.n_24h").as("n_24h"),
        col("f.properties.n_valid_24h").as("n_valid_24h"),
        col("f.properties.days_since_last").as("days_since_last"),
        col("f.properties.status_bucket").as("status_bucket"),
        element_at(col("f.geometry.coordinates"), 2).as("lat"),
        element_at(col("f.geometry.coordinates"), 1).as("lon"))
      .withColumn("source", lit("geojson"))
    val fromArr = s.read.option("multiLine", true).json(ja)
      .select(col("user_id"), col("last_ts"), col("n_24h"),
        col("n_valid_24h"), col("days_since_last"), col("status_bucket"),
        col("lat"), col("lon"))
      .withColumn("source", lit("json_array"))
    fromGeo.unionByName(fromArr).orderBy("source", "user_id")
  } (oracle = """
      WITH st AS (
        SELECT user_id,
               strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts,
               count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-29 12:00:00')
                 AS n_24h,
               count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-29 12:00:00'
                 AND value IS NOT NULL) AS n_valid_24h,
               floor(((epoch_us(TIMESTAMP '2024-01-30 12:00:00')
                       - epoch_us(max(ts))) / 86400000000.0)
                 * 1000000.0 + 0.5) / 1000000.0 AS days_since_last
        FROM events GROUP BY user_id),
      enriched AS (
        SELECT user_id, last_ts, n_24h, n_valid_24h, days_since_last,
               CASE WHEN days_since_last < 1 THEN 'ok'
                    WHEN days_since_last < 3 THEN 'warning_1_3'
                    WHEN days_since_last < 5 THEN 'warning_3_5'
                    WHEN days_since_last < 7 THEN 'warning_5_7'
                    ELSE 'stale_7_plus' END AS status_bucket,
               -30.0 - (user_id % 10)::DOUBLE * 0.5 AS lat,
               140.0 + (user_id % 7)::DOUBLE * 0.25 AS lon
        FROM st)
      SELECT e.user_id, e.last_ts, e.n_24h, e.n_valid_24h,
             e.days_since_last, e.status_bucket, e.lat, e.lon, s.source
      FROM enriched e
      CROSS JOIN (VALUES ('geojson'), ('json_array')) AS s(source)
      ORDER BY s.source, e.user_id"""),

  /** F30 grammar corpus: every PFP-name component shape (quantity,
    * instrument, system, vertical location incl. cm ranges, horizontal
    * letter, replicate digit, process suffix) plus one name per error
    * class in the typed taxonomy, parsed by `PfpName.parse` as a UDF
    * (metadata-scale corpus; the grammar guards every catalog load,
    * not a data-plane hot path). The DuckDB oracle re-dissects each
    * name with string/list functions — token classification, slot
    * assignment, error-class derivation, and the F29 height-in-metres
    * midpoint rule — so the grammar itself is hash-checked, not
    * fixture constants. */
  Query("q59_pfp_grammar") { (s, dir) =>
    import graft.pfp.PfpName
    import s.implicits._
    val corpus = Seq(
      "Fco2", "Fco2_EP", "Ta_HMP_2m_Av", "Sws_0-30cm_Av", "Ts_10cma2_Av",
      "RH_HMP155_2m", "Fh_EF_Sd", "Precip_Tot", "Ta_2m", "Ws_WS4_10m_Smp",
      "Sws_10cmb_Vr", "Ta_HMP_QCFlag",
      // the reference toolchain's rstrip-fencepost forms: dangling dot
      // before unit/range separator accepted, bare dot still rejected
      "Sws_1.m_Av", "Ts_0.-1.cmN2_Av", "Sws_.m_Av",
      "", "Ta__2m", "9Ta_2m", "Fco2_EP_EF", "Ta_2m_3m", "Sws_0-10-30cm",
      "Ta_HMP_xacm", "Ts_10cm$", "Ts_10cmax", "Ta_HMP_XX")
    val parse = udf { (name: String) =>
      PfpName.parse(name) match {
        case Right(p) => (true, null: String, p.quantity,
          p.instrument.orNull, p.system.orNull,
          p.verticalLocation.orNull, p.horizontalLocation.orNull,
          p.replicate, p.process.orNull, p.heightMetres)
        case Left(e) =>
          val cls = e match {
            case PfpName.EmptyName => "empty_name"
            case PfpName.EmptyComponent(_) => "empty_component"
            case PfpName.InvalidQuantity(_) => "invalid_quantity"
            case PfpName.DuplicateComponent(k, _) => s"duplicate_$k"
            case PfpName.TooManyHeightIdentifiers(_) =>
              "too_many_height_identifiers"
            case PfpName.NonNumericHeight(_) => "non_numeric_height"
            case PfpName.NonAlphaHorizontal(_) => "non_alpha_horizontal"
            case PfpName.NonIntegerReplicate(_) => "non_integer_replicate"
            case PfpName.UnrecognisedElement(_, _) => "unrecognised_element"
          }
          (false, cls, null: String, null: String, null: String,
            null: String, null: String, None: Option[Int], null: String,
            None: Option[Double])
      }
    }
    corpus.toDF("name")
      .withColumn("r", parse(col("name")))
      .select(col("name"), col("r._1").as("ok"),
        col("r._2").as("error_class"), col("r._3").as("quantity"),
        col("r._4").as("instrument"), col("r._5").as("system"),
        col("r._6").as("vloc"), col("r._7").as("hloc"),
        col("r._8").as("replicate"), col("r._9").as("process"),
        rnd(col("r._10"), 6).as("height_m"))
      .orderBy("name")
  } (oracle = """
      WITH corpus(name) AS (VALUES
        ('Fco2'), ('Fco2_EP'), ('Ta_HMP_2m_Av'), ('Sws_0-30cm_Av'),
        ('Ts_10cma2_Av'), ('RH_HMP155_2m'), ('Fh_EF_Sd'), ('Precip_Tot'),
        ('Ta_2m'), ('Ws_WS4_10m_Smp'), ('Sws_10cmb_Vr'), ('Ta_HMP_QCFlag'),
        ('Sws_1.m_Av'), ('Ts_0.-1.cmN2_Av'), ('Sws_.m_Av'),
        (''), ('Ta__2m'), ('9Ta_2m'), ('Fco2_EP_EF'), ('Ta_2m_3m'),
        ('Sws_0-10-30cm'), ('Ta_HMP_xacm'), ('Ts_10cm$'), ('Ts_10cmax'),
        ('Ta_HMP_XX')),
      -- canonicalise the rstrip-fencepost dangling dot (1.m -> 1m,
      -- 0.-1.cm -> 0-1cm) ONLY where a location is being matched or
      -- extracted; failed tokens classify from their ORIGINAL text
      p1 AS (SELECT name, str_split(name, '_') AS parts FROM corpus),
      p2 AS (SELECT name, parts, parts[1] AS quantity0,
               CASE WHEN len(parts) > 1 AND list_contains(
                      ['Av','Sd','Vr','Ct','Tot','Smp','QCFlag'], parts[-1])
                    THEN parts[-1] END AS process0,
               CASE WHEN len(parts) > 1 AND list_contains(
                      ['Av','Sd','Vr','Ct','Tot','Smp','QCFlag'], parts[-1])
                    THEN list_slice(parts, 2, len(parts) - 1)
                    ELSE list_slice(parts, 2, len(parts)) END AS mid
             FROM p1),
      p3 AS (SELECT *,
               list_filter(mid, x -> list_contains(['EP','EF','DL'], x))
                 AS sys_list,
               list_filter(mid, x -> regexp_full_match(
                 regexp_replace(x, '(\d)\.(cm|m|-)', '\1\2', 'g'),
                 '\d+(\.\d+)?(-\d+(\.\d+)?)?(cm|m)[a-zA-Z]?\d?'))
                 AS loc_list,
               list_filter(mid, x ->
                 NOT list_contains(['EP','EF','DL'], x)
                 AND NOT regexp_full_match(
                   regexp_replace(x, '(\d)\.(cm|m|-)', '\1\2', 'g'),
                   '\d+(\.\d+)?(-\d+(\.\d+)?)?(cm|m)[a-zA-Z]?\d?')
                 AND regexp_matches(substr(x, 1, 1), '[A-Za-z]'))
                 AS inst_list,
               list_filter(mid, x ->
                 NOT list_contains(['EP','EF','DL'], x)
                 AND NOT regexp_full_match(
                   regexp_replace(x, '(\d)\.(cm|m|-)', '\1\2', 'g'),
                   '\d+(\.\d+)?(-\d+(\.\d+)?)?(cm|m)[a-zA-Z]?\d?')
                 AND NOT regexp_matches(substr(x, 1, 1), '[A-Za-z]'))
                 AS other_list
             FROM p2),
      p4 AS (SELECT *,
               CASE WHEN len(other_list) > 0 THEN other_list[1]
                    WHEN len(inst_list) > 1 THEN inst_list[2] END AS bad_tok
             FROM p3),
      p5 AS (SELECT *,
               CASE WHEN bad_tok IS NULL THEN NULL
                    WHEN strpos(bad_tok, 'cm') > 1 THEN 'cm'
                    WHEN strpos(bad_tok, 'm') > 1 THEN 'm' END AS bad_unit
             FROM p4),
      p6 AS (SELECT *,
               CASE WHEN bad_unit IS NULL THEN NULL
                 ELSE substr(bad_tok, 1, strpos(bad_tok, bad_unit) - 1)
               END AS bad_pre,
               CASE WHEN bad_unit IS NULL THEN NULL
                 ELSE substr(bad_tok,
                   strpos(bad_tok, bad_unit) + len(bad_unit))
               END AS bad_residue
             FROM p5),
      p7 AS (SELECT *,
               CASE WHEN bad_tok IS NULL THEN NULL
                    WHEN bad_unit IS NULL THEN 'unrecognised_element'
                    WHEN len(str_split(bad_pre, '-')) > 2
                      THEN 'too_many_height_identifiers'
                    WHEN len(list_filter(str_split(bad_pre, '-'),
                        x -> NOT regexp_full_match(x, '\d+(\.\d+)?'))) > 0
                      THEN 'non_numeric_height'
                    WHEN len(bad_residue) > 0 AND NOT regexp_matches(
                        substr(bad_residue, 1, 1), '[A-Za-z]')
                      THEN 'non_alpha_horizontal'
                    WHEN len(bad_residue) > 1 AND NOT regexp_full_match(
                        substr(bad_residue, 2), '\d+')
                      THEN 'non_integer_replicate'
                    ELSE 'unrecognised_element' END AS bad_class
             FROM p6),
      p8 AS (SELECT *,
               CASE WHEN name = '' THEN 'empty_name'
                    WHEN list_contains(parts, '') THEN 'empty_component'
                    WHEN NOT regexp_matches(substr(quantity0, 1, 1),
                      '[A-Za-z]') THEN 'invalid_quantity'
                    WHEN len(sys_list) > 1 THEN 'duplicate_system'
                    WHEN len(loc_list) > 1 THEN 'duplicate_location'
                    ELSE bad_class END AS error_class
             FROM p7),
      p9 AS (SELECT *, (error_class IS NULL) AS ok,
               CASE WHEN error_class IS NULL THEN regexp_replace(
                 loc_list[1], '(\d)\.(cm|m|-)', '\1\2', 'g')
               END AS loc_tok
             FROM p8),
      p10 AS (SELECT *,
               nullif(regexp_extract(loc_tok,
                 '(\d+(\.\d+)?(-\d+(\.\d+)?)?)(cm|m)([a-zA-Z])?(\d)?', 1),
                 '') AS loc_nums,
               nullif(regexp_extract(loc_tok,
                 '(\d+(\.\d+)?(-\d+(\.\d+)?)?)(cm|m)([a-zA-Z])?(\d)?', 5),
                 '') AS loc_unit,
               nullif(regexp_extract(loc_tok,
                 '(\d+(\.\d+)?(-\d+(\.\d+)?)?)(cm|m)([a-zA-Z])?(\d)?', 6),
                 '') AS hloc,
               nullif(regexp_extract(loc_tok,
                 '(\d+(\.\d+)?(-\d+(\.\d+)?)?)(cm|m)([a-zA-Z])?(\d)?', 7),
                 '') AS rep_s
              FROM p9),
      p11 AS (SELECT *,
               CASE WHEN loc_nums IS NULL THEN NULL
                    WHEN strpos(loc_nums, '-') > 0 THEN
                      (str_split(loc_nums, '-')[1]::DOUBLE
                       + str_split(loc_nums, '-')[2]::DOUBLE) / 2.0
                    ELSE loc_nums::DOUBLE END AS mid_m
              FROM p10)
      SELECT name, ok, error_class,
             CASE WHEN ok THEN quantity0 END AS quantity,
             CASE WHEN ok THEN inst_list[1] END AS instrument,
             CASE WHEN ok THEN sys_list[1] END AS system,
             CASE WHEN ok THEN loc_nums || loc_unit END AS vloc,
             CASE WHEN ok THEN hloc END AS hloc,
             CASE WHEN ok THEN rep_s::INTEGER END AS replicate,
             CASE WHEN ok THEN process0 END AS process,
             floor((CASE WHEN loc_unit = 'cm' THEN mid_m / 100.0
                         ELSE mid_m END) * 1000000.0 + 0.5) / 1000000.0
               AS height_m
      FROM p11 ORDER BY name"""),

  /** A6/A7 keyless path: the distributed first-difference substrate
    * (range shuffle + per-partition scan + boundary stitch — no global
    * window) hash-checked against DuckDB's global-window lag over the
    * whole event stream. Complements q10 (keyless interval histogram)
    * by pinning the gap-bounds output of the same substrate. */
  Query("q60_keyless_gaps") { (s, dir) =>
    TimeSeriesOps.gaps(t(s, dir, "events").select("ts"), "ts", 600)
      .orderBy("prev_ts")
  } (oracle = """
      WITH d AS (SELECT ts, lag(ts) OVER (ORDER BY ts) AS prev_ts
                 FROM events),
      g AS (SELECT ts, prev_ts,
              (epoch_us(ts) - epoch_us(prev_ts)) // 1000000 AS gap_sec
            FROM d WHERE prev_ts IS NOT NULL)
      SELECT ts, prev_ts, gap_sec, gap_sec // 600 - 1 AS n_records
      FROM g WHERE gap_sec > 600 ORDER BY prev_ts"""),

  /** E1 end-to-end: the full L1 lifecycle in ONE hash-pinned query —
    * every stage here is individually oracle-green elsewhere; this row
    * protects the COMPOSITION (the reference's nc_constructors.py
    * flagship path, E1 in SURVEY §3) against cross-operator contract
    * drift. Two synthetic "files" of the same logger table (the second
    * overlapping and at coarser precision) are conditioned
    * (P1 subset+rename, D1 exact dedup of injected duplicate rows, A1
    * regularize to the hourly grid), gated by the J2 legality report
    * (new dates + same inferred interval + shared variables + no unit
    * conflicts), vertically concatenated with master precedence (J1 —
    * the overlap hours keep the master file's 6-digit values), merged
    * horizontally with a second table on the time axis (J3), unit-
    * converted (F12: K->degC, frac->%), plausibility-masked (P5, Ta
    * only), QC-flagged (K5: null -> 1), and end-of-interval
    * year-labeled (§7.4 #4). The J2 verdict rides along as data. */
  Query("q61_l1_lifecycle") { (s, dir) =>
    import graft.core.{FileInfo, TableMeta, VariableMeta}
    import graft.pipeline.{L1Pipeline, MergeLegality}
    import graft.pipeline.L1Pipeline.Conditioned
    import graft.functions.Conversions
    val e = t(s, dir, "events")
    def hours(evType: String, from: String, until: String): DataFrame =
      e.filter(col("event_type") === evType &&
          col("ts") >= to_timestamp(lit(from)) &&
          col("ts") < to_timestamp(lit(until)))
        .withColumn("hour_ts", date_trunc("hour", col("ts")))

    val metaA = TableMeta(FileInfo.dummy, Seq(
      // plausible bounds are in POST-conversion units (degC)
      VariableMeta("Ta_raw", "K", "Avg",
        plausibleMin = Some(-250.0), plausibleMax = Some(-150.0)),
      VariableMeta("n_raw", "n", "Tot")))
    val usecolsA = Map("Ta_raw" -> "Ta", "n_raw" -> "n_samp")

    // file A1 (master half): hourly clicks at 6-digit precision, plus
    // an extraneous column (P1 drops it) and duplicated rows (D1
    // collapses them — the oracle never sees either).
    val rawA1 = hours("click", "2024-01-01 00:00:00", "2024-01-11 00:00:00")
      .groupBy("hour_ts")
      .agg(rnd(avg(col("value")), 6).as("Ta_raw"),
        count(col("value")).as("n_raw"))
      .withColumn("junk_raw", lit("drop-me"))
    val fileA1 = rawA1.unionAll(rawA1.filter(hour(col("hour_ts")) % 4 === 0))
    // file A2 (candidate): overlaps A1 by three days and reports at
    // 5-digit precision, so precedence is visible in the hash.
    val rawA2 = hours("click", "2024-01-08 00:00:00", "2024-01-21 00:00:00")
      .groupBy("hour_ts")
      .agg(rnd(avg(col("value")), 5).as("Ta_raw"),
        count(col("value")).as("n_raw"))

    // Materialize the conditioned grids once: the legality analysis
    // below runs several small actions (per-side interval inference +
    // the new-dates probe) that would otherwise each recompute the
    // full condition lineage. A conditioned site-file is a bounded
    // artifact, so the checkpoint is cheap at any corpus scale.
    def ckpt(c: Conditioned): Conditioned =
      c.copy(df = Materialize.checkpoint(c.df))
    val condA1 = ckpt(L1Pipeline.condition(
      Conditioned(fileA1, metaA), "hour_ts", 3600, usecolsA))
    val condA2 = ckpt(L1Pipeline.condition(
      Conditioned(rawA2, metaA), "hour_ts", 3600, usecolsA))

    // J2 gate: refuse the concat unless the candidate is legal (it is,
    // by fixture — the verdict is also emitted as data below).
    val rep = MergeLegality.analyse(
      condA1.df, condA1.meta, condA2.df, condA2.meta, "hour_ts")
    require(rep.legal, s"q61 fixture must be a legal concat: $rep")
    val tableA = Conditioned(
      JoinOps.concatWithPrecedence(Seq(condA1.df, condA2.df),
        Seq("hour_ts")),
      condA1.meta)

    // second table: hourly views at 6 digits, fraction units
    val rawB = hours("view", "2024-01-10 00:00:00", "2024-01-31 00:00:00")
      .groupBy("hour_ts")
      .agg(rnd(avg(col("value")), 6).as("RH_raw"))
    val condB = L1Pipeline.condition(
      Conditioned(rawB, TableMeta(FileInfo.dummy,
        Seq(VariableMeta("RH_raw", "frac", "Avg")))),
      "hour_ts", 3600, Map("RH_raw" -> "RH"))

    val merged = L1Pipeline.mergeOnTime(Seq(tableA, condB), "hour_ts")
    val converted = L1Pipeline.convertUnits(merged, Map(
      "Ta" -> (((c: Column) => Conversions.kelvinToCelsius(c)), "degC"),
      "RH" -> (((c: Column) => Conversions.fracToPercent(c)), "%")))
    val masked = L1Pipeline.maskPlausible(converted)
    L1Pipeline.withQcFlags(masked.df, "hour_ts")
      .withColumn("year", L1Pipeline.labelYear(col("hour_ts"), 3600))
      .withColumn("legal_concat", lit(rep.legal))
      .withColumn("n_common_vars", lit(rep.commonVariables.length))
      .withColumn("master_interval_sec", lit(rep.masterIntervalSec))
      .withColumn("candidate_interval_sec", lit(rep.candidateIntervalSec))
      .withColumn("contributes_new_dates", lit(rep.contributesNewDates))
      .orderBy("hour_ts")
  } (oracle =
    // The E1 lifecycle, re-derived stage by stage: present-hours aggs
    // (the injected Spark-side duplicates collapse under D1, so the
    // plain agg IS the post-dedup frame), per-file grids (A1
    // regularize), master-precedence concat (A2 contributes only hours
    // past A1's grid end), full-outer time merge, K->degC and frac->%
    // conversion, Ta plausibility mask, null->1 QC flags, and
    // end-of-interval year labels. The J2 verdict columns are
    // fixture-known constants (q54/q57 re-derive that machinery).
    """
      WITH a1h AS (SELECT date_trunc('hour', ts) AS hour_ts, value
             FROM events WHERE event_type = 'click'
               AND ts >= TIMESTAMP '2024-01-01 00:00:00'
               AND ts <  TIMESTAMP '2024-01-11 00:00:00'),
      a1p AS (SELECT hour_ts,
                floor(avg(value) * 1000000.0 + 0.5) / 1000000.0 AS ta_k,
                count(value) AS n
              FROM a1h GROUP BY 1),
      a1s AS (SELECT min(hour_ts) AS t0, max(hour_ts) AS t1 FROM a1p),
      a1 AS (SELECT g.hour_ts, p.ta_k, p.n
             FROM (SELECT unnest(generate_series(t0, t1,
                     INTERVAL 1 HOUR)) AS hour_ts FROM a1s) g
             LEFT JOIN a1p p USING (hour_ts)),
      a2h AS (SELECT date_trunc('hour', ts) AS hour_ts, value
             FROM events WHERE event_type = 'click'
               AND ts >= TIMESTAMP '2024-01-08 00:00:00'
               AND ts <  TIMESTAMP '2024-01-21 00:00:00'),
      a2p AS (SELECT hour_ts,
                floor(avg(value) * 100000.0 + 0.5) / 100000.0 AS ta_k,
                count(value) AS n
              FROM a2h GROUP BY 1),
      a2s AS (SELECT min(hour_ts) AS t0, max(hour_ts) AS t1 FROM a2p),
      a2 AS (SELECT g.hour_ts, p.ta_k, p.n
             FROM (SELECT unnest(generate_series(t0, t1,
                     INTERVAL 1 HOUR)) AS hour_ts FROM a2s) g
             LEFT JOIN a2p p USING (hour_ts)),
      ta AS (SELECT * FROM a1 UNION ALL
             SELECT * FROM a2
             WHERE hour_ts > (SELECT t1 FROM a1s)),
      bh AS (SELECT date_trunc('hour', ts) AS hour_ts, value
             FROM events WHERE event_type = 'view'
               AND ts >= TIMESTAMP '2024-01-10 00:00:00'
               AND ts <  TIMESTAMP '2024-01-31 00:00:00'),
      bp AS (SELECT hour_ts,
               floor(avg(value) * 1000000.0 + 0.5) / 1000000.0 AS rh_f
             FROM bh GROUP BY 1),
      bs AS (SELECT min(hour_ts) AS t0, max(hour_ts) AS t1 FROM bp),
      b AS (SELECT g.hour_ts, p.rh_f
            FROM (SELECT unnest(generate_series(t0, t1,
                    INTERVAL 1 HOUR)) AS hour_ts FROM bs) g
            LEFT JOIN bp p USING (hour_ts)),
      m AS (SELECT coalesce(ta.hour_ts, b.hour_ts) AS hour_ts,
              ta.ta_k - 273.15 AS ta_c, ta.n, b.rh_f * 100.0 AS rh_pct
            FROM ta FULL OUTER JOIN b ON ta.hour_ts = b.hour_ts),
      mk AS (SELECT hour_ts,
               CASE WHEN ta_c BETWEEN -250.0 AND -150.0 THEN ta_c END
                 AS "Ta",
               n AS n_samp, rh_pct AS "RH"
             FROM m)
      SELECT hour_ts, "Ta", n_samp, "RH",
        CASE WHEN "Ta" IS NULL THEN 1 ELSE 0 END AS "Ta_QCFlag",
        CASE WHEN n_samp IS NULL THEN 1 ELSE 0 END AS "n_samp_QCFlag",
        CASE WHEN "RH" IS NULL THEN 1 ELSE 0 END AS "RH_QCFlag",
        year(hour_ts - INTERVAL 3600 SECOND) AS year,
        true AS legal_concat,
        2 AS n_common_vars,
        3600 AS master_interval_sec,
        3600 AS candidate_interval_sec,
        true AS contributes_new_dates
      FROM mk ORDER BY hour_ts"""),

  /** F22/F23/F28 oracle row: the derivation dispatch run in BOTH
    * humidity directions over a met-shaped hourly frame (PFP-named
    * columns, so quantity resolution is exercised too). Site "R" has
    * Ta/RH/ps and derives VPD, AH (F16) and Td; site "A" has Ta/AH/ps
    * — the first [[graft.pipeline.VisPipeline.deriveMissing]] pass
    * pads RH from AH (F23, the reference's pad-then-synthesize,
    * nc_constructors.py:244-311), and a second pass then derives
    * VPD/Td THROUGH the padded full-precision RH. F28's 100 ms
    * timestamp rounding rides along on synthetic sub-second
    * timestamps. All derived values rnd-6 at the edge only. */
  Query("q62_derive_dispatch") { (s, dir) =>
    import graft.core.{FileInfo, TableMeta, VariableMeta}
    import graft.pipeline.{FastData, L1Pipeline, VisPipeline}
    val met = t(s, dir, "events")
      .filter(col("event_type") === "click")
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(rnd(avg(col("value")), 6).as("v"))
      // deterministic met-plausible values from the rounded mean
      // (fmod on positive doubles is exact in both engines)
      .select(col("hour_ts"), col("v"),
        (col("v") % 40.0).as("ta_v"),
        (lit(30.0) + col("v") % 60.0).as("rh_v"),
        (lit(85.0) + col("v") % 20.0).as("ps_v"),
        (lit(2.0) + col("v") % 15.0).as("ah_v"))

    val dR = VisPipeline.deriveMissing(L1Pipeline.Conditioned(
      met.select(col("hour_ts"), col("v"),
        col("ta_v").as("Ta_HMP_2m_Av"), col("rh_v").as("RH_HMP_2m_Av"),
        col("ps_v").as("ps_EP_Av")),
      TableMeta(FileInfo.dummy, Seq(
        VariableMeta("Ta_HMP_2m_Av", "degC", "Av"),
        VariableMeta("RH_HMP_2m_Av", "percent", "Av"),
        VariableMeta("ps_EP_Av", "kPa", "Av")))))
    val dA = VisPipeline.deriveMissing(VisPipeline.deriveMissing(
      L1Pipeline.Conditioned(
        met.select(col("hour_ts"), col("v"),
          col("ta_v").as("Ta_HMP_2m_Av"), col("ah_v").as("AH_IRGA_2m_Av"),
          col("ps_v").as("ps_EP_Av")),
        TableMeta(FileInfo.dummy, Seq(
          VariableMeta("Ta_HMP_2m_Av", "degC", "Av"),
          VariableMeta("AH_IRGA_2m_Av", "g/m^3", "Av"),
          VariableMeta("ps_EP_Av", "kPa", "Av"))))))

    def shape(d: DataFrame, site: String, rhCol: String,
        ahCol: String): DataFrame =
      d.select(lit(site).as("site"), col("hour_ts"),
        rnd(col("Ta_HMP_2m_Av"), 6).as("Ta"),
        rnd(col(rhCol), 6).as("RH"),
        rnd(col(ahCol), 6).as("AH"),
        rnd(col("VPD"), 6).as("VPD"),
        rnd(col("Td"), 6).as("Td"),
        FastData.round100ms(timestamp_micros(unix_micros(col("hour_ts"))
          + floor(col("v") * 1234567.0).cast("long"))).as("ts_r100"))
    shape(dR.df, "R", "RH_HMP_2m_Av", "AH")
      .unionByName(shape(dA.df, "A", "RH", "AH_IRGA_2m_Av"))
      .orderBy("site", "hour_ts")
  } (oracle =
    // Both humidity directions re-derived from the same Buck/molar-
    // density formulas as q18 (left-associative operator order matches
    // the Column expressions bit-for-bit); site A's VPD/Td go through
    // the FULL-PRECISION padded RH, with rnd-6 only at the edge.
    // F28: (us+500) - (us+500) % 100000 on integer micros.
    """
      WITH h AS (SELECT date_trunc('hour', ts) AS hour_ts,
              floor(avg(value) * 1000000.0 + 0.5) / 1000000.0 AS v
            FROM events WHERE event_type = 'click' GROUP BY 1),
      met AS (SELECT hour_ts, v,
              v % 40.0 AS ta, 30.0 + v % 60.0 AS rh,
              85.0 + v % 20.0 AS ps, 2.0 + v % 15.0 AS ah FROM h),
      c AS (SELECT *,
              0.61121 * exp((18.678 - ta/234.5) * (ta/(257.14 + ta)))
                AS es,
              ps * 1000.0 / ((ta + 273.15) * 8.3143) AS md,
              make_timestamp((epoch_us(hour_ts)
                  + CAST(floor(v * 1234567.0) AS BIGINT) + 500)
                - (epoch_us(hour_ts)
                  + CAST(floor(v * 1234567.0) AS BIGINT) + 500) % 100000)
                AS ts_r100
            FROM met),
      r1 AS (SELECT *, es * rh / 100.0 AS e FROM c),
      r2 AS (SELECT 'R' AS site, hour_ts, ta AS tao, rh AS rho,
              e / ps * md * 18.0 AS aho, es - e AS vpdo,
              243.5 * ln(e/0.61121) / (17.502 - ln(e/0.61121)) AS tdo,
              ts_r100 FROM r1),
      a1 AS (SELECT *, ah / 18.0 / md * ps / es * 100.0 AS rh_d FROM c),
      a2 AS (SELECT *, es * rh_d / 100.0 AS e2 FROM a1),
      a3 AS (SELECT 'A' AS site, hour_ts, ta AS tao, rh_d AS rho,
              ah AS aho, es - e2 AS vpdo,
              243.5 * ln(e2/0.61121) / (17.502 - ln(e2/0.61121)) AS tdo,
              ts_r100 FROM a2),
      u AS (SELECT * FROM r2 UNION ALL SELECT * FROM a3)
      SELECT site, hour_ts,
        floor(tao * 1000000.0 + 0.5) / 1000000.0 AS "Ta",
        floor(rho * 1000000.0 + 0.5) / 1000000.0 AS "RH",
        floor(aho * 1000000.0 + 0.5) / 1000000.0 AS "AH",
        floor(vpdo * 1000000.0 + 0.5) / 1000000.0 AS "VPD",
        floor(tdo * 1000000.0 + 0.5) / 1000000.0 AS "Td",
        ts_r100
      FROM u ORDER BY site, hour_ts"""),

  /** S10 CSIXML roundtrip: hourly event means written as a CSIXML
    * document (head/environment/fields + data/r/v shape per
    * read_cs_files.py:204-243) and decoded back by the distributed
    * reader — hash-matching the direct aggregation oracle proves the
    * XML byte path (ISO time attribute, record numbers, shortest-repr
    * doubles, empty <v/> nulls) is value-exact. Collect is bounded:
    * one row per hour. */
  Query("q55_csixml_roundtrip") { (s, dir) =>
    import graft.core.{FileInfo, TableMeta, VariableMeta}
    val agg = t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(rnd(avg(col("value")), 6).as("v_mean"),
           count(lit(1)).cast("double").as("n"))
      .orderBy("hour_ts")
    val rows = agg.collect()
    val meta = TableMeta(
      FileInfo("CSIXML", "EventsSite", "CR1000X", "1", "os", "prog",
        "1", "hourly"),
      Seq(VariableMeta("TIMESTAMP", "TS", ""),
        VariableMeta("RECORD", "RN", ""),
        VariableMeta("v_mean", "arb", "Avg"),
        VariableMeta("n", "samples", "Tot")))
    val path =
      s"${System.getProperty("java.io.tmpdir")}/graft_q55/hourly.xml"
    graft.sources.CsiXml.write(path, meta,
      rows.toSeq.zipWithIndex.map { case (r, i) =>
        (r.getTimestamp(0).toLocalDateTime, i.toLong,
          Seq[Any](r.getDouble(1), r.getDouble(2))) })
    graft.sources.CsiXml.read(s, path).data
      .select(col("DATETIME").as("hour_ts"), col("RECORD").as("rec_no"),
        col("v_mean"), col("n"))
      .orderBy("hour_ts")
  } (oracle = """
      WITH a AS (
        SELECT date_trunc('hour', ts) AS hour_ts,
               floor((avg(value)) * 1000000.0 + 0.5) / 1000000.0
                 AS v_mean,
               count(*)::DOUBLE AS n
        FROM events GROUP BY 1)
      SELECT hour_ts,
             row_number() OVER (ORDER BY hour_ts) - 1 AS rec_no,
             v_mean, n
      FROM a ORDER BY hour_ts"""),

  /** E2 end-to-end: the full visualisation-product chain in one
    * hash-pinned row — PFP-named L1 frame → P6 nearest-height variable
    * selection (2 m beats 10 m for fluxHeight 2.5, Sd companions
    * dropped) → P8 suffix normalisation (fixture-known renames) → P5
    * quantity-keyed masking → F22 derivations over the MASKED inputs →
    * K1 TOA5 write → S1 read-back. Values cross the TOA5 byte path as
    * shortest-repr doubles (lossless), so the oracle recomputes them
    * directly and rnd-6 only at the edge. */
  Query("q69_vis_toa5") { (s, dir) =>
    import graft.core.{FileInfo, TableMeta, VariableMeta}
    import graft.pipeline.{L1Pipeline, VisPipeline}
    val met = t(s, dir, "events")
      .filter(col("event_type") === "click")
      .groupBy(date_trunc("hour", col("ts")).as("DATETIME"))
      .agg(rnd(avg(col("value")), 6).as("v"))
      .select(col("DATETIME"),
        (col("v") % 40.0).as("Ta_HMP_2m_Av"),
        (col("v") % 40.0 + 1.5).as("Ta_HMP_10m_Av"),
        (lit(30.0) + col("v") % 60.0).as("RH_HMP_2m_Av"),
        (lit(85.0) + col("v") % 20.0).as("ps_EP_Av"),
        (col("v") % 10.0).as("Fco2_EP"),
        lit(0.5).as("Ta_HMP_2m_Sd"))
    val meta = TableMeta(FileInfo.dummy, Seq(
      VariableMeta("Ta_HMP_2m_Av", "degC", "Av"),
      VariableMeta("Ta_HMP_10m_Av", "degC", "Av"),
      VariableMeta("RH_HMP_2m_Av", "percent", "Av"),
      VariableMeta("ps_EP_Av", "kPa", "Av"),
      VariableMeta("Fco2_EP", "umol/m^2/s", ""),
      VariableMeta("Ta_HMP_2m_Sd", "degC", "Sd")))
    val path =
      s"${System.getProperty("java.io.tmpdir")}/graft_q69/vis.dat"
    VisPipeline.buildVisualisationToa5(
      L1Pipeline.Conditioned(met, meta), "DATETIME",
      targets = Seq("Ta", "RH", "ps", "Fco2"), fluxHeight = 2.5,
      plausible = Map("Ta" -> (0.0, 35.0), "RH" -> (35.0, 80.0)),
      outPath = path)
    val back = graft.sources.Toa5.read(s, path).data
    back.select(col("DATETIME") +:
        back.columns.filterNot(Set("DATETIME", "TIMESTAMP")).toSeq
          .map(c => rnd(col(c), 6).as(c)): _*)
      .orderBy("DATETIME")
  } (oracle =
    // The selection/rename outcome is fixture-known (2 m chosen over
    // 10 m, Sd dropped, Ta_HMP_2m_Av -> Ta_HMP etc.); values recompute
    // through the same masked-input derivation chain as q62's R side.
    """
      WITH h AS (SELECT date_trunc('hour', ts) AS dt,
              floor(avg(value) * 1000000.0 + 0.5) / 1000000.0 AS v
            FROM events WHERE event_type = 'click' GROUP BY 1),
      base AS (SELECT dt, v % 40.0 AS ta_raw, 30.0 + v % 60.0 AS rh_raw,
              85.0 + v % 20.0 AS ps_v, v % 10.0 AS fco2 FROM h),
      mk AS (SELECT dt,
              CASE WHEN ta_raw BETWEEN 0.0 AND 35.0 THEN ta_raw END AS ta,
              CASE WHEN rh_raw BETWEEN 35.0 AND 80.0 THEN rh_raw END AS rh,
              ps_v, fco2 FROM base),
      c AS (SELECT *,
              0.61121 * exp((18.678 - ta/234.5) * (ta/(257.14 + ta)))
                AS es,
              ps_v * 1000.0 / ((ta + 273.15) * 8.3143) AS md FROM mk),
      c2 AS (SELECT *, es * rh / 100.0 AS e FROM c)
      SELECT dt AS "DATETIME",
        floor(ta * 1000000.0 + 0.5) / 1000000.0 AS "Ta_HMP",
        floor(rh * 1000000.0 + 0.5) / 1000000.0 AS "RH_HMP",
        floor(ps_v * 1000000.0 + 0.5) / 1000000.0 AS ps,
        floor(fco2 * 1000000.0 + 0.5) / 1000000.0 AS "Fco2",
        floor((es - e) * 1000000.0 + 0.5) / 1000000.0 AS "VPD",
        floor((e / ps_v * md * 18.0) * 1000000.0 + 0.5) / 1000000.0
          AS "AH",
        floor((243.5 * ln(e/0.61121) / (17.502 - ln(e/0.61121)))
          * 1000000.0 + 0.5) / 1000000.0 AS "Td"
      FROM c2 ORDER BY "DATETIME""""),

  /** F25 solar oracle: sunrise/sunset for a site × month fixture grid,
    * evaluated DISTRIBUTED (the NOAA chain runs in a UDF over the
    * cross-joined frame) and reduced to seconds-since-midnight
    * integers so no timestamp/timezone semantics enter the compare.
    * The oracle re-derives the full NOAA chain in SQL with the same
    * operator shapes (`x/180*pi()` mirrors Java toRadians exactly);
    * whole-second rounding absorbs the last-ulp libm-vs-JVM trig
    * differences. */
  Query("q68_solar_noaa") { (s, dir) =>
    import graft.functions.Solar
    import s.implicits._
    val sites = Seq(
      ("alpine", -36.5, 148.0, 10.0),
      ("tropical", -12.5, 131.0, 9.5),
      ("temperate", -34.0, 140.5, 9.5),
      ("northern", 51.5, -0.1, 0.0),
      ("equator", 0.0, 36.8, 3.0)).toDF("site", "lat", "lon", "off")
    val dates = (1 to 12).map(m =>
      java.sql.Date.valueOf(java.time.LocalDate.of(2024, m, 15)))
      .toDF("date")
    val sun = udf { (d: java.sql.Date, la: Double, lo: Double,
        off: Double) =>
      Solar.sunriseSunset(d.toLocalDate, la, lo, off).map {
        case (r, st) =>
          val mid = d.toLocalDate.atStartOfDay
          (java.time.Duration.between(mid, r).getSeconds,
            java.time.Duration.between(mid, st).getSeconds)
      }
    }
    sites.crossJoin(dates)
      .withColumn("rs", sun(col("date"), col("lat"), col("lon"),
        col("off")))
      .filter(col("rs").isNotNull) // polar day/night (none in fixture)
      .select(col("site"), col("date"),
        col("rs._1").as("sunrise_sec"), col("rs._2").as("sunset_sec"))
      .orderBy("site", "date")
  } (oracle =
    // Full NOAA chain (Meeus) re-derived: Julian day with the integer
    // truncations, declination + equation of time, hour angle at
    // zenith 90.833. `x / 180.0 * pi()` and `x * 180.0 / pi()` mirror
    // Java toRadians/toDegrees op-for-op; floor(x + 0.5) mirrors
    // Math.round. Whole-second outputs absorb trig last-ulp drift.
    """
      WITH sites(site, lat, lon, off) AS (VALUES
        ('alpine', -36.5, 148.0, 10.0),
        ('tropical', -12.5, 131.0, 9.5),
        ('temperate', -34.0, 140.5, 9.5),
        ('northern', 51.5, -0.1, 0.0),
        ('equator', 0.0, 36.8, 3.0)),
      dates(d) AS (SELECT unnest(list_transform(range(1, 13),
        m -> make_date(2024, m::INTEGER, 15)))),
      jd AS (SELECT *,
          CASE WHEN month(d) <= 2 THEN year(d) - 1 ELSE year(d) END AS yy,
          CASE WHEN month(d) <= 2 THEN month(d) + 12 ELSE month(d) END AS mm
        FROM sites CROSS JOIN dates),
      j2 AS (SELECT *,
          trunc(365.25 * (yy + 4716)) + trunc(30.6001 * (mm + 1))
            + day(d) + (2 - yy // 100 + (yy // 100) // 4) - 1524.5
            AS jday
        FROM jd),
      j3 AS (SELECT *, (jday - 2451545.0) / 36525.0 AS jc FROM j2),
      j4 AS (SELECT *,
          fmod(280.46646 + jc * (36000.76983 + jc * 0.0003032), 360.0)
            AS gml,
          357.52911 + jc * (35999.05029 - 0.0001537 * jc) AS gma,
          0.016708634 - jc * (0.000042037 + 0.0000001267 * jc) AS ecc
        FROM j3),
      j5 AS (SELECT *,
          gml + sin(gma / 180.0 * pi())
              * (1.914602 - jc * (0.004817 + 0.000014 * jc))
            + sin((2 * gma) / 180.0 * pi()) * (0.019993 - 0.000101 * jc)
            + sin((3 * gma) / 180.0 * pi()) * 0.000289 AS tl,
          23.0 + (26.0 + (21.448 - jc * (46.815
            + jc * (0.00059 - jc * 0.001813))) / 60.0) / 60.0 AS moe
        FROM j4),
      j6 AS (SELECT *,
          tl - 0.00569 - 0.00478
            * sin((125.04 - 1934.136 * jc) / 180.0 * pi()) AS al,
          moe + 0.00256
            * cos((125.04 - 1934.136 * jc) / 180.0 * pi()) AS oc
        FROM j5),
      j7 AS (SELECT *,
          asin(sin(oc / 180.0 * pi()) * sin(al / 180.0 * pi()))
            * 180.0 / pi() AS decl,
          tan((oc / 2) / 180.0 * pi()) * tan((oc / 2) / 180.0 * pi())
            AS y2
        FROM j6),
      j8 AS (SELECT *,
          4.0 * ((y2 * sin(2 * (gml / 180.0 * pi()))
            - 2 * ecc * sin(gma / 180.0 * pi())
            + 4 * ecc * y2 * sin(gma / 180.0 * pi())
              * cos(2 * (gml / 180.0 * pi()))
            - 0.5 * y2 * y2 * sin(4 * (gml / 180.0 * pi()))
            - 1.25 * ecc * ecc * sin(2 * (gma / 180.0 * pi())))
            * 180.0 / pi()) AS eot
        FROM j7),
      j9 AS (SELECT *,
          (cos(90.833 / 180.0 * pi())
            - sin(lat / 180.0 * pi()) * sin(decl / 180.0 * pi()))
          / (cos(lat / 180.0 * pi()) * cos(decl / 180.0 * pi()))
            AS cosha
        FROM j8),
      j10 AS (SELECT *,
          acos(cosha) * 180.0 / pi() AS ha,
          720.0 - 4.0 * lon - eot AS noonmin
        FROM j9 WHERE cosha >= -1.0 AND cosha <= 1.0)
      SELECT site, d AS date,
        CAST(floor((noonmin - 4.0 * ha + off * 60.0) * 60.0 + 0.5)
          AS BIGINT) AS sunrise_sec,
        CAST(floor((noonmin + 4.0 * ha + off * 60.0) * 60.0 + 0.5)
          AS BIGINT) AS sunset_sec
      FROM j10 ORDER BY site, date"""),
  )
}
