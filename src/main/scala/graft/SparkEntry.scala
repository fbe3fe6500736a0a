package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Conversions
import graft.operators.{JoinOps, TimeSeriesOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] exercises one operator family from
  * SURVEY.md §2 on the driver's TPC-H-ish parquet corpus, implemented
  * through the graft operator library; [[oracleSql]] carries the
  * equivalent DuckDB SQL for the hash-compare correctness gate.
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
    * SESSION CONTRACT: queries in this object assume three session
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

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
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

  /** Run-unique streaming tmp root under java.io.tmpdir for the
    * streaming queries (q123/q127/q134): applicationId-suffixed so
    * concurrent harness invocations can't destroy each other's
    * in-flight checkpoint/input dirs (ADVICE r15), deleted at start
    * if a same-app rerun left it, AND deleted again at JVM exit via
    * a shutdown hook — the app-unique suffix means the start-of-run
    * cleanup can never fire across sessions, so without the hook
    * every invocation would permanently leak its parquet input,
    * output, and checkpoint dirs (ADVICE r16). */
  private def streamTmpRoot(s: SparkSession, tag: String)
      : java.nio.file.Path = {
    val root = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft_${tag}_${s.sparkContext.applicationId}")
    def wipe(): Unit = if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.delete)
    }
    wipe()
    if (hookedTmpRoots.add(root.toString))
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        try wipe() catch { case _: Throwable => () }))
    root
  }
  private val hookedTmpRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Engine-parity rounding: floor(x*10^n + 0.5)/10^n. Every step is an
    * exactly-specified IEEE-754 op, so Spark and DuckDB produce the same
    * bits — unlike decimal `round`, whose half-way tie handling differs
    * between the engines (Spark rounds the shortest decimal repr,
    * DuckDB the raw binary). */
  private def rnd(c: Column, scale: Int): Column = {
    val p = math.pow(10.0, scale)
    floor(c * p + lit(0.5)) / p
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------
  // Query implementations (grouped by SURVEY.md §2 operator family)
  // ---------------------------------------------------------------

  /** A-class aggregation over lineitem (TPC-H Q1 shape). */
  private def q01(s: SparkSession, dir: String): DataFrame =
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

  /** P4 date-range slice + projection (pushdown-verified scan). */
  private def q02(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-01-01")
        && col("o_orderdate") < lit("1998-01-01")
        && col("o_totalprice") > 100000.0)
      .select("o_orderkey", "o_orderdate", "o_totalprice")
      .orderBy("o_orderkey")

  /** J-class multi-way join: revenue by nation (broadcast dims). */
  private def q03(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** Broadcast dimension rollup region->nation->customer. */
  private def q04(s: SparkSession, dir: String): DataFrame = {
    val r = t(s, dir, "region"); val n = t(s, dir, "nation")
    val c = t(s, dir, "customer")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_customers"),
           rnd(sum(col("c_acctbal")), 2).as("sum_acctbal"))
      .orderBy("r_name")
  }

  /** W4 ordered-first: top order per customer via window rank. */
  private def q05(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey")
  }

  /** W1/W2 lag: inter-event gap per user (integer-exact seconds). */
  private def q06(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("gap_sec",
        expr("(unix_micros(ts) - prev_us) div 1000000"))
      .select("event_id", "user_id", "gap_sec")
      .orderBy("event_id")
  }

  /** D1 exact dedup: distinct-text stats per source on documents. */
  private def q07(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("text")).as("n_distinct_texts"))
      .orderBy("source")

  /** D2 duplicate-key diagnostics on lineitem order groups. */
  private def q08(s: SparkSession, dir: String): DataFrame =
    TimeSeriesOps.duplicateKeyDiagnostics(
        t(s, dir, "lineitem"), Seq("l_orderkey"), "l_partkey")
      .orderBy("l_orderkey")

  /** A1/A5 regularize-to-grid: hourly grid over events with counts
    * (missing hours present with n_events = 0). */
  private def q09(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .withColumn("hour_ts", date_trunc("hour", col("ts")))
    val grid = e.agg(min(col("hour_ts")).as("t0"), max(col("hour_ts")).as("t1"))
      .select(explode(sequence(col("t0"), col("t1"),
        expr("INTERVAL 1 HOUR"))).as("hour_ts"))
    grid.join(e, Seq("hour_ts"), "left")
      .groupBy("hour_ts")
      .agg(count(col("event_id")).as("n_events"))
      .orderBy("hour_ts")
  }

  /** A2 interval inference substrate: histogram of ts first-differences. */
  private def q10(s: SparkSession, dir: String): DataFrame =
    TimeSeriesOps.intervalHistogram(t(s, dir, "events"), "ts")
      .orderBy("delta_sec")

  /** A6 gap distribution per user (nominal interval 3600 s). */
  private def q11(s: SparkSession, dir: String): DataFrame =
    TimeSeriesOps.gapDistribution(
        t(s, dir, "events").select("user_id", "ts"), "ts", 3600,
        Seq("user_id"))
      .orderBy("n_records")

  /** A7 gap bounds: gaps > 6 h per user with (start, end). */
  private def q12(s: SparkSession, dir: String): DataFrame =
    TimeSeriesOps.gaps(
        t(s, dir, "events").select("user_id", "ts"), "ts", 21600,
        Seq("user_id"))
      .select(col("user_id"), col("prev_ts").as("gap_start"),
              col("ts").as("gap_end"), col("n_records"))
      .orderBy("user_id", "gap_start")

  /** A8 date span per user. */
  private def q13(s: SparkSession, dir: String): DataFrame =
    TimeSeriesOps.dateSpan(t(s, dir, "events"), "ts", Seq("user_id"))
      .orderBy("user_id")

  /** A9 variable status: last record / last valid (range-masked) value
    * / trailing-24h validity, against fixed now = 1998-08-02. */
  private def q14(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** A4 diel mean: hour-of-day profile of event values. */
  private def q15(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(hour(col("ts")).as("hh"))
      .agg(rnd(avg(col("value")), 4).as("avg_value"),
           count(lit(1)).as("n"))
      .orderBy("hh")

  /** A3 downsample: daily mean per event type. */
  private def q16(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day_ts"))
      .agg(rnd(avg(col("value")), 4).as("avg_value"),
           count(lit(1)).as("n"))
      .orderBy("event_type", "day_ts")

  /** P5 range mask: out-of-range -> null, rows preserved (count proof). */
  private def q17(s: SparkSession, dir: String): DataFrame = {
    val masked = t(s, dir, "lineitem")
      .withColumn("q_masked", TimeSeriesOps.maskRange(col("l_quantity"), 5.0, 45.0))
    masked.groupBy("l_returnflag").agg(
        count(lit(1)).as("n_rows"),
        count(col("q_masked")).as("n_valid"),
        rnd(avg(col("q_masked")), 4).as("avg_masked"),
        rnd(sum(col("q_masked")), 2).as("sum_masked"))
      .orderBy("l_returnflag")
  }

  /** F13-F19 met derivations (Buck es, e, VPD, dew point, AH) over a
    * synthetic met frame mapped from lineitem columns. */
  private def q18(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** E1/E2 set ops: nations with customers but no suppliers. */
  private def q19(s: SparkSession, dir: String): DataFrame = {
    val n = t(s, dir, "nation")
    val withCust = n.join(t(s, dir, "customer"),
      n("n_nationkey") === col("c_nationkey")).select("n_name")
    val withSupp = n.join(t(s, dir, "supplier"),
      n("n_nationkey") === col("s_nationkey")).select("n_name")
    withCust.except(withSupp).orderBy("n_name")
  }

  /** J5 sessionization: split user streams on >6h gaps. */
  private def q20(s: SparkSession, dir: String): DataFrame =
    TimeSeriesOps.sessionize(
        t(s, dir, "events").select("user_id", "ts", "event_id"),
        "ts", 21600, Seq("user_id"), Seq("event_id"))
      .groupBy("user_id", "session_id")
      .agg(min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"),
           count(lit(1)).as("n_events"))
      .orderBy("user_id", "session_id")

  /** J5 gaps-and-islands: consecutive same-event_type runs per user
    * (the instrument-history coalescing shape). */
  private def q21(s: SparkSession, dir: String): DataFrame =
    TimeSeriesOps.islands(
        t(s, dir, "events").select("user_id", "ts", "event_type", "event_id"),
        "ts", "event_type", Seq("user_id"), Seq("event_id"))
      .orderBy("user_id", "start_ts")

  /** J7 nearest-match join: per supplier, the same-nation customer with
    * closest account balance (argmin + tiebreak). */
  private def q22(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** E3/J1 union with kind tags: parties per nation. */
  private def q23(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_nationkey").as("nationkey")).withColumn("kind", lit("cust"))
    val supp = t(s, dir, "supplier")
      .select(col("s_nationkey").as("nationkey")).withColumn("kind", lit("supp"))
    cust.unionByName(supp)
      .groupBy("nationkey")
      .agg(count(when(col("kind") === "cust", 1)).as("n_cust"),
           count(when(col("kind") === "supp", 1)).as("n_supp"))
      .orderBy("nationkey")
  }

  /** A11 strict sum (skipna=False): null if any member null. */
  private def q24(s: SparkSession, dir: String): DataFrame = {
    val masked = t(s, dir, "lineitem")
      .withColumn("q_masked", TimeSeriesOps.maskRange(col("l_quantity"), 5.0, 45.0))
    masked.groupBy("l_returnflag").agg(
        when(count(lit(1)) === count(col("q_masked")),
          rnd(sum(col("q_masked")), 2)).as("strict_sum"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")
  }

  // --- LLM-corpus operators: text analysis / dedup / similarity ---

  /** Token/quality stats per document (text-analysis operator set). */
  private def q25(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps._
    t(s, dir, "documents").select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        col("n_chars"),
        rnd(punctRatio(col("text")), 4).as("punct_ratio"),
        rnd(stopwordRatio(col("text")), 4).as("stop_ratio"),
        rnd(meanTokenLength(col("text")), 4).as("mean_tok_len"))
      .orderBy("doc_id")
  }

  /** Heuristic language ID (stopword-hit argmax). */
  private def q26(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), graft.text.TextOps.langId(col("text")).as("lang_guess"))
      .orderBy("doc_id")

  /** Document fingerprint (normalized md5) per doc. */
  private def q27(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), graft.text.TextOps.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  /** Deterministic training-data sampling: stratified per-source rates
    * (data mixing) + hash-based train/val/test assignment, all
    * md5-coordinate-derived ([[graft.text.SampleOps]]) so membership
    * is partition-layout- and engine-independent — the oracle
    * re-derives the exact member set, not just counts. The sampling
    * and split draws use distinct salts (independence pinned: the
    * split mix inside the sample matches the global weights). */
  private def q63(s: SparkSession, dir: String): DataFrame = {
    import graft.text.SampleOps
    val docs = t(s, dir, "documents")
    SampleOps.stratifiedSample(docs, "doc_id", "source",
        Map("src0" -> 0.6, "src1" -> 0.3), 0.15, "st")
      .select(col("doc_id"), col("source"),
        SampleOps.hashCoord(col("doc_id"), "st").as("coord"),
        SampleOps.assignSplit(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "sp")
          .as("split"))
      .orderBy("doc_id")
  }

  /** Exact-quota mixing: the deterministic 5 lowest-coordinate docs
    * per source — fixed counts where q63 fixes rates. */
  private def q66(s: SparkSession, dir: String): DataFrame = {
    import graft.text.SampleOps
    SampleOps.takePerStratum(t(s, dir, "documents"),
        "doc_id", "source", 5, "q")
      .select(col("doc_id"), col("source"),
        SampleOps.hashCoord(col("doc_id"), "q").as("coord"))
      .orderBy("source", "doc_id")
  }

  /** Corpus vocabulary stats: document frequency + IDF per token —
    * the distributed wordcount shape (explode + map-side-combinable
    * token shuffle) with the corpus size folded into the IDF. */
  private def q64(s: SparkSession, dir: String): DataFrame =
    graft.text.TextOps.docFrequency(t(s, dir, "documents"),
        "doc_id", "text")
      .select(col("token"), col("n_docs"), rnd(col("idf"), 6).as("idf"))
      .orderBy("token")

  /** Contamination check: the fixture "eval set" is every 100th
    * document's text, so each eval doc must at minimum flag its own
    * source (identical shingle sets) and any near-duplicates; the
    * eval shingle table broadcasts, the corpus side never shuffles
    * (see [[graft.text.DedupOps.contamination]]). */
  private def q65(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val eval = docs.filter(col("doc_id") % 100 === 7)
      .select(col("doc_id").as("eid"), col("text"))
    graft.text.DedupOps.contamination(
        docs, "doc_id", "text", eval, "eid", "text", 3, 2L)
      .orderBy("doc_id", "eval_id")
  }

  /** N-gram Jaccard near-dup pairs (3-shingles, j >= 0.5). */
  private def q28(s: SparkSession, dir: String): DataFrame =
    graft.text.DedupOps.ngramJaccardPairs(
        t(s, dir, "documents"), "doc_id", "text", 3, 0.5, Long.MaxValue)
      .select(col("id_a"), col("id_b"), col("n_shared"), col("n_a"),
        col("n_b"), rnd(col("jaccard"), 6).as("jaccard"))
      .orderBy("id_a", "id_b")

  /** MinHash LSH candidate pairs (8-hash signature, 4 bands x 2). */
  private def q29(s: SparkSession, dir: String): DataFrame =
    graft.text.DedupOps.minhashCandidatePairs(
        t(s, dir, "documents"), "doc_id", "text", 3, 4, 2)
      .orderBy("id_a", "id_b")

  /** 16-bit SimHash per document (relational form). */
  private def q30(s: SparkSession, dir: String): DataFrame =
    graft.text.DedupOps.simhashTable(t(s, dir, "documents"), "doc_id", "text")
      .select(col("id").as("doc_id"), col("sh"))
      .orderBy("doc_id")

  /** SimHash near-dup pairs within hamming distance 3 (bucketed). */
  private def q31(s: SparkSession, dir: String): DataFrame =
    graft.text.DedupOps.simhashPairs(
        t(s, dir, "documents"), "doc_id", "text", 3)
      .orderBy("id_a", "id_b")

  /** 64-bit SimHash near-dup pairs via the 4-rotated-16-bit-word
    * banding (the corpus-scale variant: exact recall at radius <= 3
    * by pigeonhole, in-bucket work O(n²/2¹⁶) per band). */
  private def q50(s: SparkSession, dir: String): DataFrame =
    graft.text.DedupOps.simhashPairs64(
        t(s, dir, "documents"), "doc_id", "text", 3)
      .orderBy("id_a", "id_b")

  /** Brute-force cosine top-5 for query vectors vec_id < 10. */
  private def q32(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.sim.Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 10), emb, 5, roundScale = 6)
      .orderBy("q_id", "rank")
  }

  /** LSH-bucketed ANN at the library default (auto plane count —
    * resolves to 8 below 256k vectors, which the oracle inlines). */
  private def q33(s: SparkSession, dir: String): DataFrame =
    graft.sim.Similarity.lshTopK(t(s, dir, "embeddings"), 5)
      .orderBy("q_id", "rank")

  /** TOA5 codec round-trip (S1/S4/K1/K2/D6): hourly event means ->
    * TOA5 file on disk -> codec read-back. Hash-matching the direct
    * aggregation oracle proves the codec is value-stable end-to-end. */
  private def q34(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** F26 FP2 decode via the custom Catalyst expression, oracle-checked
    * against the equivalent bit arithmetic in SQL. Sentinel raws are
    * filtered (inf/NaN don't hash-compare). */
  private def q35(s: SparkSession, dir: String): DataFrame = {
    val raw = (col("l_partkey") % 65536).cast("int")
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), raw.as("raw"))
      .filter(!col("raw").isin(0x1fff, 0x9fff, 0x9ffe))
      .select(col("l_orderkey"), col("l_linenumber"),
        graft.functions.Fp2.fp2(col("raw")).as("fp2_val"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** S8 TOB1 binary round-trip: events encoded to a TOB1 file
    * (1990-epoch SECONDS/NANOSECONDS + IEEE4 value), decoded back by
    * the distributed binary source; hash-matches the plain projection
    * oracle iff timestamps and float payloads survive bit-exactly. */
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

  private def q36(s: SparkSession, dir: String): DataFrame = {
    val path = tobFixture(s, dir, "graft_q36")
    graft.sources.Tob.read(s, path).data
      .select(col("DATETIME"), col("value").cast("double").as("value"))
      .orderBy("DATETIME")
  }

  /** Multimodal plumbing: documents as opaque binary payloads through
    * the per-partition feature extractor (deterministic md5-derived
    * stub decoder — the Spark-side batch shape is what's exercised).
    * Oracle mirrors the md5-derived features byte-for-byte. */
  private def q37(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = t(s, dir, "documents").select(
      col("doc_id").as("media_id"), lit("utf8").as("format"),
      col("text").cast("binary").as("payload"))
    Multimodal.extractFeatures(media,
        Multimodal.MediaDecoder.Deterministic(8))
      .select(col("media_id").as("doc_id"), col("payload_bytes"),
        element_at(col("features"), 1).as("f0"),
        element_at(col("features"), 2).as("f1"),
        element_at(col("features"), 3).as("f2"),
        element_at(col("features"), 4).as("f3"))
      .orderBy("doc_id")
  }

  /** A10/A11/W1 profile storage-flux pipeline: events shaped into a
    * (time, height) concentration profile, then layer means (bottom
    * intake + adjacent-height averages), per-layer time derivative
    * scaled by layer depth, and the strict any-null-nulls sum. */
  private def q38(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** As-of join (backward): for each event, the latest purchase event
    * of the same user at-or-before it — single window pass via the
    * union trick (one shuffle on (user, ts)), checked against DuckDB's
    * native ASOF JOIN. */
  private def q39(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** Trailing-24h rolling mean per user via a RANGE frame on the
    * microsecond axis. Values are snapped to exact integer cents
    * before summing (floor(v*100+0.5) -> long), so the rolling sum is
    * integer-exact in both engines and needs no output rounding. */
  private def q40(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** Dedup clustering: connected components over the MinHash candidate
    * pairs — every doc labeled with its cluster's canonical (min) doc
    * id. Oracle = recursive-CTE transitive closure over the same
    * pairs in DuckDB. */
  private def q41(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id").as("id"))
    val pairs = graft.text.DedupOps.minhashCandidatePairs(
      t(s, dir, "documents"), "doc_id", "text", 3, 4, 2)
    graft.text.DedupOps.connectedComponents(docs, pairs)
      .select(col("id").as("doc_id"), col("component"))
      .orderBy("doc_id")
  }

  /** Embedding-cosine near-dup pairs: banded random-hyperplane LSH
    * candidates, exact-cosine rescore, 0.35 rounded-cosine cut.
    * Oracle replicates the plane literals, band keys, and rounding in
    * DuckDB SQL, so the approximate candidate set itself is checked
    * exactly — not just the rescore. */
  private def q42(s: SparkSession, dir: String): DataFrame =
    // Demo-recall banding (4 bands × 4 bits): on the 500-vector
    // fixture most near pairs should collide so the rescore path gets
    // exercised; the library default is the scale shape (see q51).
    graft.sim.Similarity.cosineNearDupPairs(
        t(s, dir, "embeddings"), 0.35, bands = 4, rowsPerBand = 4)
      .orderBy("id_a", "id_b")

  /** Embedding near-dup at the library's corpus-scale defaults
    * (8 bands × 16 sign bits — 65536 keys per band, bucket cap):
    * candidate recall is deliberately LSH-approximate; the oracle
    * replicates the banding bit-for-bit so the result is still
    * hash-exact. */
  private def q51(s: SparkSession, dir: String): DataFrame =
    graft.sim.Similarity.cosineNearDupPairs(
        t(s, dir, "embeddings"), 0.35)
      .orderBy("id_a", "id_b")

  /** IVF ANN: deterministic coarse quantizer targeting 20 centroids
    * (stride = n/20, derived — NOT a fixed stride, so |C| stays
    * broadcast-small at any corpus size), nProbe=2 probed lists,
    * exact cosine rescore, top-5. Oracle replicates quantizer
    * (including the count-derived stride), probe ranking, rescore. */
  private def q43(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.sim.Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb, 5,
        numCentroids = 20, nProbe = 2)
      .orderBy("q_id", "rank")
  }

  /** DSv2 TOA5 scan (SURVEY §7.3 phase-2): the q34 product read back
    * through `format("toa5")` with a projection + DATETIME filter —
    * column pruning and best-effort file pruning on the V2 path,
    * oracle-checked like any other query. */
  private def q44(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** BPE-ish token counting next to whitespace counting — the
    * LLM-corpus cost estimate, oracle-exact because the regex uses
    * only constructs Java and RE2 interpret identically. */
  private def q45(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        graft.text.TextOps.tokenCount(col("text")).as("n_ws_tokens"),
        graft.text.TextOps.bpeishTokenCount(col("text")).as("n_bpe_tokens"))
      .orderBy("doc_id")

  /** TOB binary DSv2 (SURVEY §7.3 phase-2): the q36 TOB1 product read
    * back through `format("tob")` — frame decode inside the V2
    * partition reader, oracle-checked. */
  private def q46(s: SparkSession, dir: String): DataFrame = {
    val path = tobFixture(s, dir, "graft_q46")
    s.read.format("tob").load(path)
      .select(col("DATETIME"), col("value").cast("double").as("value"))
      .orderBy("DATETIME")
  }

  /** S9 TOB3 frame roundtrip: 997 event values laid out 10 records
    * per frame at 100 ms (reference frame semantics:
    * read_cs_files.py:312-500) — frame 3 carries an invalid
    * validation stamp (decoder must skip its 10 records) and the
    * trailing 7-record frame is minor (footer word0 = used bytes).
    * The oracle recomputes the surviving (DATETIME, RECORD) grid
    * arithmetically, so stamp validation, minor-frame record counts,
    * and sub-record timestamping are all hash-checked. */
  private def q47(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** K3 EddyPro writer roundtrip: hourly event means through the
    * tab-separated DATAH/DATAU summary format (file_io.py:721-841)
    * and back via the format-sniffing reader; hash-matches the direct
    * aggregation oracle, proving the writer/reader pair is
    * value-stable (numbers, NaN token, date/time split columns). */
  private def q48(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** K4/S11 netCDF product roundtrip: hourly event means through the
    * lake -> a real classic-format .nc (CF time since 1800-01-01,
    * crs + QC flag variables, recomputed global attrs) -> the netCDF
    * scan seam. Hash-matching the direct aggregation oracle proves
    * the .nc byte path is value-stable end-to-end. */
  private def q52(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** K6/S12 xlsx roundtrip: hourly event means through the OOXML
    * writer and back through the sheet reader — hash-matching the
    * direct aggregation oracle proves cell values (numbers as
    * shortest-repr doubles, strings) survive the workbook byte path
    * exactly. */
  private def q53(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** A14 fast-file window partitioning: end-labelled 30-min buckets
    * ((start, end] per fast_file_io.py:444-596) with completeness
    * stats — the bucket arithmetic behind shard naming, oracle-checked
    * in pure integer time math. */
  private def q49(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.FastData.windowStats(
        t(s, dir, "events").select(col("ts")), "ts", 30, 0.1)
      .orderBy("window_end")

  /** J2+J3: the L1 merge heart (file_concatenators.py:187-455 +
    * file_handler.py:534-605). A master hourly frame and a
    * vertically-overlapping candidate run the full legality analysis —
    * anti-join new-date existence, A2 interval inference on both
    * sides, variable intersection, and the unit-alias table (degC~C) —
    * then two variable frames take the horizontal full-outer time
    * merge. The legality scalars ride on every merged row and the
    * oracle re-derives them from the data (NOT EXISTS set-diff +
    * mode-of-deltas SQL), so the verdict itself is hash-checked. */
  private def q54(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** J2 negative-path merge legality with a LOAD-BEARING alias table:
    * unlike q54 (where the variable-set verdicts are fixture-known
    * constants in the oracle), every count here is re-derived by the
    * oracle from the same VALUES metadata — the full-outer variable
    * join, the unit-alias equivalence (degC~C ok, mm vs degC conflict,
    * m^3/m^3~fraction ok), and the candidate-only/master-only diffs —
    * and the candidate's date span sits strictly inside the master's,
    * so the no-new-dates + unit-conflict ILLEGAL branch is what gets
    * hash-checked. One row per variable in the union of both metas. */
  private def q57(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** K7/K8 parse-back: the per-user A9 status stats render through
    * BOTH text sinks — the geojson FeatureCollection (properties +
    * Point coordinates) and the site-details JSON array — then each
    * file is re-read with Spark's JSON reader and the two parses are
    * unioned under a `source` tag. Hash-matching the direct-aggregation
    * oracle (× 2 sources) proves both byte paths (escaping, number
    * rendering, null handling, coordinate ordering) are value-exact.
    * Collects are bounded: one row per user/site. */
  private def q58(s: SparkSession, dir: String): DataFrame = {
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
  }

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
  private def q59(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** A6/A7 keyless path: the distributed first-difference substrate
    * (range shuffle + per-partition scan + boundary stitch — no global
    * window) hash-checked against DuckDB's global-window lag over the
    * whole event stream. Complements q10 (keyless interval histogram)
    * by pinning the gap-bounds output of the same substrate. */
  private def q60(s: SparkSession, dir: String): DataFrame =
    TimeSeriesOps.gaps(t(s, dir, "events").select("ts"), "ts", 600)
      .orderBy("prev_ts")

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
  private def q61(s: SparkSession, dir: String): DataFrame = {
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
      c.copy(df = c.df.localCheckpoint())
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
  }

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
  private def q62(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** S10 CSIXML roundtrip: hourly event means written as a CSIXML
    * document (head/environment/fields + data/r/v shape per
    * read_cs_files.py:204-243) and decoded back by the distributed
    * reader — hash-matching the direct aggregation oracle proves the
    * XML byte path (ISO time attribute, record numbers, shortest-repr
    * doubles, empty <v/> nulls) is value-exact. Collect is bounded:
    * one row per hour. */
  private def q55(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** §2.9 streaming completeness: two `Trigger.AvailableNow` runs of
    * the J6 incremental-append fold — run 1 drains a first-half batch,
    * run 2 discovers only the newly appended second half (which
    * includes an exact duplicate file the streaming dedup must drop) —
    * then the resulting lake is aggregated and hash-compared against
    * batch SQL over the source table. Equality holds iff run 2
    * re-read nothing (no double counts), the duplicate file was
    * deduped, and nothing was dropped as late. */
  private def q56(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.IncrementalAppend
    val root = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_q56")
    // streaming checkpoints remember processed files; stale state from
    // a previous invocation would corrupt the fold — start clean
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.delete)
    }
    val inDir = s"$root/in"; val outDir = s"$root/lake"
    val ev = t(s, dir, "events")
      .select("event_id", "ts", "user_id", "value")
    val cut = to_timestamp(lit("2024-01-16 00:00:00"))
    ev.filter(col("ts") < cut).write.parquet(inDir)
    val schema = s.read.parquet(inDir).schema
    IncrementalAppend.appendRun(s, inDir, outDir, s"$root/ckpt",
      schema, "ts", Seq("event_id"), lateness = "48 hours")
    // second half arrives later, plus a byte-duplicate re-send of it
    ev.filter(col("ts") >= cut).write.mode("append").parquet(inDir)
    ev.filter(col("ts") >= cut).write.mode("append").parquet(inDir)
    IncrementalAppend.appendRun(s, inDir, outDir, s"$root/ckpt",
      schema, "ts", Seq("event_id"), lateness = "48 hours")
    s.read.parquet(outDir)
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(count(lit(1)).as("n_events"),
        rnd(sum(col("value")), 4).as("sum_value"))
      .orderBy("hour_ts")
  }

  /** §2.9 stateful streaming oracle: cross-batch gap detection
    * (`flatMapGroupsWithState`, per-site last-seen state in the
    * checkpoint) must equal the BATCH answer — a per-user lag over
    * the whole stream — even though the stream arrives as two
    * disjoint halves plus a byte-duplicate re-send (which the carried
    * state must treat as a no-op). Gaps spanning the batch cut are
    * exactly the rows only the state can produce. Timestamps pass
    * through `Timestamp.getTime`, so the oracle compares at
    * millisecond truncation. */
  private def q67(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StatefulGaps
    val root = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_q67")
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.delete)
    }
    val inDir = s"$root/in"; val outDir = s"$root/gaps"
    val obs = t(s, dir, "events")
      .select(col("user_id").cast("string").as("site"),
        col("ts").as("DATETIME"))
    val cut = to_timestamp(lit("2024-01-16 00:00:00"))
    obs.filter(col("DATETIME") < cut).write.parquet(inDir)
    val schema = s.read.parquet(inDir).schema
    StatefulGaps.gapRun(s, inDir, outDir, s"$root/ckpt", schema, 21600)
    obs.filter(col("DATETIME") >= cut).write.mode("append").parquet(inDir)
    StatefulGaps.gapRun(s, inDir, outDir, s"$root/ckpt", schema, 21600)
    // byte-duplicate re-send: every event is at or before the carried
    // last-seen timestamp, so the third run must append nothing
    obs.filter(col("DATETIME") >= cut).write.mode("append").parquet(inDir)
    StatefulGaps.gapRun(s, inDir, outDir, s"$root/ckpt", schema, 21600)
    s.read.parquet(outDir).orderBy("site", "gap_start")
  }

  /** E2 end-to-end: the full visualisation-product chain in one
    * hash-pinned row — PFP-named L1 frame → P6 nearest-height variable
    * selection (2 m beats 10 m for fluxHeight 2.5, Sd companions
    * dropped) → P8 suffix normalisation (fixture-known renames) → P5
    * quantity-keyed masking → F22 derivations over the MASKED inputs →
    * K1 TOA5 write → S1 read-back. Values cross the TOA5 byte path as
    * shortest-repr doubles (lossless), so the oracle recomputes them
    * directly and rnd-6 only at the edge. */
  private def q69(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** F25 solar oracle: sunrise/sunset for a site × month fixture grid,
    * evaluated DISTRIBUTED (the NOAA chain runs in a UDF over the
    * cross-joined frame) and reduced to seconds-since-midnight
    * integers so no timestamp/timezone semantics enter the compare.
    * The oracle re-derives the full NOAA chain in SQL with the same
    * operator shapes (`x/180*pi()` mirrors Java toRadians exactly);
    * whole-second rounding absorbs the last-ulp libm-vs-JVM trig
    * differences. */
  private def q68(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** Sequence packing: the documents table laid out as ONE
    * deterministic token stream (hash order; two-pass distributed
    * prefix sum — no single-partition global window) and chunked into
    * 256-token training blocks, one row per (block, doc) overlap. The
    * oracle re-derives the identical layout with a global-window
    * cumulative sum — tractable in DuckDB at test SF, and exactly the
    * plan shape the Spark side exists to avoid at scale. Uses the
    * EAGER variant so repeated bench/verify runs retain no substrate
    * (retainedSubstrates stays 0 after the result materializes). */
  private def q70(s: SparkSession, dir: String): DataFrame = {
    import graft.text.{PackOps, TextOps}
    val docs = t(s, dir, "documents")
      .select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
    PackOps.packBlocksEager(docs, "doc_id", "n_tokens", 256, "pk")
      .select(col("block_id"), col("doc_id"), col("start_in_block"),
        col("span_tokens"), col("start_off"), col("end_off"))
      .orderBy("block_id", "doc_id")
  }

  /** Repetition quality signals (Gopher-style): duplicate-token-line
    * fractions and top-2/3-gram character coverage per document, all
    * re-derived in SQL from the same tokenization. The corpus text
    * never repeats an 8-token line, so every 25th document is
    * replaced with an n-fold repeated template line (n a function of
    * doc_id, built identically in both engines) — the duplicate-line
    * branch is exercised with varying non-zero fractions, not just
    * the all-zero corpus case. */
  private def q71(s: SparkSession, dir: String): DataFrame = {
    import graft.text.QualityOps
    val docs = t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 25 === 0,
        expr("repeat('lorem ipsum dolor sit amet consectetur " +
          "adipiscing elit ', cast(2 + doc_id % 4 as int))"))
        .otherwise(col("text")).as("text"))
    QualityOps.repetitionStats(docs, "doc_id", "text",
        lineWidth = 8, ns = Seq(2, 3))
      .select(col("doc_id"), col("n_lines"),
        rnd(col("dup_line_frac"), 6).as("dup_line_frac"),
        rnd(col("dup_line_char_frac"), 6).as("dup_line_char_frac"),
        rnd(col("top2_char_frac"), 6).as("top2_char_frac"),
        rnd(col("top3_char_frac"), 6).as("top3_char_frac"))
      .orderBy("doc_id")
  }

  /** PII scrubbing: deterministic synthetic PII (email/URL/IP derived
    * from doc_id — the corpus text itself contains none) appended to
    * each document, then counted on the raw text and redacted in the
    * fixed email→URL→IP order; the md5 of the redacted text pins the
    * exact replacement behaviour in both engines. */
  private def q72(s: SparkSession, dir: String): DataFrame = {
    import graft.text.ScrubOps
    val pii = concat(col("text"),
      lit(" contact u"), col("doc_id").cast("string"),
      lit("@ex"), (col("doc_id") % 7).cast("string"),
      lit(".org via http://h"), (col("doc_id") % 5).cast("string"),
      lit(".example.com/p/"), col("doc_id").cast("string"),
      lit(" from 10."), (col("doc_id") % 256).cast("string"),
      lit(".0."), (col("doc_id") % 100).cast("string"),
      lit(" end"),
      when(col("doc_id") % 2 === 0,
        concat(lit(" cc b"), col("doc_id").cast("string"),
          lit("@mail.net"))).otherwise(lit("")),
      // Email-shaped credential inside a URL authority: pins the
      // deliberate email-first order (redacts to `http://<EMAIL>/q`,
      // a mangled URL remnant — see ScrubOps scaladoc).
      when(col("doc_id") % 3 === 0,
        concat(lit(" auth http://u"), col("doc_id").cast("string"),
          lit("@cred.example.net/q"))).otherwise(lit("")))
    t(s, dir, "documents")
      .select(col("doc_id"), pii.as("__t"))
      .select(col("doc_id"),
        ScrubOps.countEmails(col("__t")).as("n_emails"),
        ScrubOps.countUrls(col("__t")).as("n_urls"),
        ScrubOps.countIpv4(col("__t")).as("n_ips"),
        md5(ScrubOps.redactPii(col("__t"))).as("red_md5"))
      .orderBy("doc_id")
  }

  /** Packed-block content assembly: the same q70 layout materialized —
    * every 256-token block's actual token stream, md5-pinned. The
    * per-block aggregation state is bounded by the block size by
    * construction, so the collect_list can never grow with corpus
    * size. */
  private def q73(s: SparkSession, dir: String): DataFrame = {
    import graft.text.PackOps
    PackOps.packedBlocks(t(s, dir, "documents"), "doc_id", "text",
        256, "pk")
      .orderBy("block_id")
  }

  /** Deterministic shard export: write the corpus as 16 hash-assigned
    * parquet shards, READ THE FILES BACK, and manifest them grouped
    * on the directory-layout shard value — count, order-invariant
    * content XOR, char sum per shard. The oracle re-derives the
    * manifest from the raw table, so a writer that dropped,
    * duplicated, altered, or mis-assigned a single row hash-fails. */
  private def q74(s: SparkSession, dir: String): DataFrame = {
    import graft.text.SampleOps
    // Per-process output dir: stable within a run (bench re-runs reuse
    // it) but two concurrent bench/verify processes on one machine
    // can't interleave overwrite + read-back into spurious mismatches.
    val out = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_q74_${ProcessHandle.current().pid()}/shards"
    val docs = t(s, dir, "documents").select("doc_id", "text")
    // writeShards' return IS the read-back manifest (directory-layout
    // shard grouping) — the oracle re-derives it from the raw table.
    SampleOps.writeShards(docs, "doc_id", "text", out, 16, "sh")
      .orderBy("shard")
  }

  /** Epoch-weighted mixing: src0 × 2.5 epochs, src1 × 0.75, others
    * × 1.25 — every copy materialized with its index, re-derived per
    * row in SQL (dyadic fractions keep the coordinate comparison
    * bit-exact in both engines). */
  private def q75(s: SparkSession, dir: String): DataFrame = {
    import graft.text.SampleOps
    SampleOps.oversample(
        t(s, dir, "documents").select("doc_id", "source"),
        "doc_id", "source",
        Map("src0" -> 2.5, "src1" -> 0.75), defaultWeight = 1.25,
        salt = "ep")
      .select("doc_id", "source", "copy")
      .orderBy("doc_id", "copy")
  }

  /** q77 corpus literals, shared verbatim with the oracle SQL: 60
    * distinct no-stopword tokens (trips minStopword alone) and 58
    * 16-char tokens behind two stopwords (trips maxMeanTok alone). */
  private val q77NoStop: String =
    (0 until 60).map(i => f"k$i%02d").mkString(" ")
  private val q77LongToks: String =
    "the and " + (0 until 58).map(i => f"abcdefghijklm$i%03d").mkString(" ")

  /** Gopher-style composite keep/drop verdict, oracle-pinned: the
    * corpus is engineered so every threshold of
    * [[graft.text.QualityOps.gopherFilter]] trips on at least one
    * document class (too-few/too-many tokens, short/long mean token,
    * no stopwords, punctuation flood, duplicated lines, dominant
    * 2-gram), and the full signal vector + the keep boolean are
    * re-derived in SQL. The comparisons run on unrounded doubles in
    * both engines — every signal is an integer ratio divided once in
    * double, so the booleans are bit-identical. */
  private def q77(s: SparkSession, dir: String): DataFrame = {
    import graft.text.QualityOps
    val docs = t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 30 === 0, lit("tiny doc"))
        .when(col("doc_id") % 30 === 1,
          concat(col("text"), expr("repeat('!', length(text))")))
        .when(col("doc_id") % 30 === 2, lit(q77NoStop))
        .when(col("doc_id") % 30 === 3, lit(q77LongToks))
        .when(col("doc_id") % 30 === 4,
          expr("repeat('lorem ipsum dolor sit amet consectetur " +
            "adipiscing elit ', 16)"))
        .when(col("doc_id") % 30 === 5,
          expr("repeat('0 1 2 3 4 5 6 7 8 9 ', 6)"))
        .when(col("doc_id") % 30 === 6,
          expr("repeat('z9 y8 x7 w6 v5 u4 t3 s2 ', 80)"))
        .when(col("doc_id") % 30 === 7, expr("repeat('lorem ipsum ', 30)"))
        .otherwise(col("text")).as("text"))
    QualityOps.gopherFilter(docs, "doc_id", "text", maxTokens = 600)
      .select(col("doc_id"), col("q_tokens"),
        rnd(col("q_mean_tok"), 6).as("q_mean_tok"),
        rnd(col("q_stopword"), 6).as("q_stopword"),
        rnd(col("q_punct"), 6).as("q_punct"),
        col("n_lines"),
        rnd(col("dup_line_frac"), 6).as("dup_line_frac"),
        rnd(col("dup_line_char_frac"), 6).as("dup_line_char_frac"),
        rnd(col("top2_char_frac"), 6).as("top2_char_frac"),
        col("keep"))
      .orderBy("doc_id")
  }

  /** Real image decode (the [[graft.multimodal.Multimodal.MediaDecoder.ImageIo]]
    * kernel, JDK `javax.imageio`, no external library): deterministic
    * synthetic BMPs — pixel channels are linear congruences of
    * (doc_id % 256, x, y) — are encoded in-task, decoded by the real
    * BMP codec, and featurized (dims, channel means, bright-pixel
    * fraction). The oracle re-derives every feature arithmetically
    * over a generate_series pixel grid, so the encode → real-decode →
    * feature chain is pinned end to end. */
  private def q76(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    import s.implicits._
    val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map(id => (id, "image", "bmp", Multimodal.SyntheticMedia.docBmp(id)))
      .toDF("media_id", "kind", "format", "payload")
    Multimodal.extractFeatures(media, Multimodal.MediaDecoder.ImageIo())
      .select(col("media_id").as("doc_id"), col("payload_bytes"),
        element_at(col("features"), 1).as("width"),
        element_at(col("features"), 2).as("height"),
        element_at(col("features"), 3).as("r_mean"),
        element_at(col("features"), 4).as("g_mean"),
        element_at(col("features"), 5).as("b_mean"),
        element_at(col("features"), 6).as("frac_bright"))
      .orderBy("doc_id")
  }

  /** Real audio decode (the [[graft.multimodal.Multimodal.MediaDecoder.AudioIo]]
    * kernel, JDK `javax.sound.sampled`, no external library):
    * deterministic synthetic WAVs — 16-bit PCM samples are a linear
    * congruence of (doc_id % 1009, i) — encoded in-task, decoded by
    * the real RIFF/WAVE parser, and featurized (rate, length,
    * mean |s|, RMS, non-negative fraction, max |s|). The oracle
    * re-derives every feature arithmetically over a generate_series
    * sample grid. */
  private def q78(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    import s.implicits._
    val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map(id => (id, "audio", "wav", Multimodal.SyntheticMedia.docWav(id)))
      .toDF("media_id", "kind", "format", "payload")
    Multimodal.extractFeatures(media, Multimodal.MediaDecoder.AudioIo())
      .select(col("media_id").as("doc_id"), col("payload_bytes"),
        element_at(col("features"), 1).as("sample_rate"),
        element_at(col("features"), 2).as("n_samples"),
        element_at(col("features"), 3).as("mean_abs"),
        element_at(col("features"), 4).as("rms"),
        element_at(col("features"), 5).as("nonneg_frac"),
        element_at(col("features"), 6).as("max_abs"))
      .orderBy("doc_id")
  }

  /** Real video decode (the
    * [[graft.multimodal.Multimodal.MediaDecoder.AviDib]] kernel — a
    * hand-rolled RIFF/AVI chunk walker over uncompressed 24-bit DIB
    * frames, zero codec dependencies): deterministic synthetic AVIs —
    * each channel of pixel (f, x, y) is a linear congruence of
    * (doc_id % 1009, f, x, y) — are encoded in-task, decoded by the
    * real parser, frame-sampled every 2nd frame INSIDE the kernel,
    * and featurized. The oracle re-derives every feature over a
    * (frame, x, y) generate_series grid restricted to the sampled
    * frames. */
  private def q79(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    import s.implicits._
    val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map(id => (id, "video", "avi", Multimodal.SyntheticMedia.docAvi(id)))
      .toDF("media_id", "kind", "format", "payload")
    Multimodal.extractFeatures(media,
        Multimodal.MediaDecoder.AviDib(frameStride = 2))
      .select(col("media_id").as("doc_id"), col("payload_bytes"),
        element_at(col("features"), 1).as("width"),
        element_at(col("features"), 2).as("height"),
        element_at(col("features"), 3).as("n_frames"),
        element_at(col("features"), 4).as("n_sampled"),
        element_at(col("features"), 5).as("r_mean"),
        element_at(col("features"), 6).as("g_mean"),
        element_at(col("features"), 7).as("b_mean"),
        element_at(col("features"), 8).as("frac_bright"))
      .orderBy("doc_id")
  }

  /** Duplicated-span detection (ExactSubstr granularity): maximal
    * spans of 8-token windows occurring >= 2x corpus-wide. Portable
    * md5 window keys so DuckDB re-derives the same table; the
    * xxhash64 production path is pinned equal in `TextOpsSpec`. */
  private def q80(s: SparkSession, dir: String): DataFrame =
    graft.text.DedupOps.dupSpans(t(s, dir, "documents"), 8, 2,
        portableHash = true)
      .orderBy("doc_id", "span_start")

  /** Span removal over q80's spans: every doc comes back with its
    * normalized token stream minus all flagged occurrences. */
  private def q81(s: SparkSession, dir: String): DataFrame =
    graft.text.DedupOps.removeDupSpans(t(s, dir, "documents"), 8, 2,
        portableHash = true)
      .orderBy("doc_id")

  /** Decontamination removal over q65's flag set: the corpus minus
    * every doc sharing >= 2 3-shingles with the synthetic eval slice
    * (which includes the eval docs themselves — self-overlap flags
    * them, so the removal provably fires). */
  private def q82(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val eval = docs.filter(col("doc_id") % 100 === 7)
      .select(col("doc_id").as("eid"), col("text"))
    graft.text.DedupOps.decontaminate(
        docs, "doc_id", "text", eval, "eid", "text", 3, 2L)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** Unicode text normalization: NFC + lowercase + accent strip +
    * whitespace collapse, oracle-pinned byte-for-byte against
    * DuckDB's utf8proc implementations of the same Unicode
    * algorithms. The corpus augments each doc with decomposed,
    * precomposed, and mixed-whitespace forms so every normalization
    * path fires on every row; the fingerprint column proves the
    * normalized bytes hash identically in both engines. */
  private def q83(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextNorm
    val raw = concat_ws(" ", col("text"),
      lit("Caf\u00e9"),                    // precomposed e-acute
      lit("Cafe\u0301 au\tlait"),         // decomposed e + U+0301, tab ws
      lit("M\u00dcNCHEN \u00d8resund"),   // U-umlaut lowers; O-slash has no mark
      lit("nai\u0308ve  \n coordinaci\u00f3n"))
    t(s, dir, "documents").select(col("doc_id"), raw.as("raw"))
      .select(col("doc_id"),
        TextNorm.normalizeText(col("raw")).as("norm"),
        TextNorm.normalizeText(col("raw"), accentStrip = true)
          .as("norm_folded"),
        TextNorm.normalizedFingerprint(col("raw"), accentStrip = true)
          .as("fp"))
      .orderBy("doc_id")
  }

  /** Deterministic URL augmentation for the domain-curation oracles:
    * every doc links a mixed-case www host derived from its id; docs
    * with id % 10 == 3 add a tracker URL behind userinfo, id % 10 ==
    * 6 a bare blocked host followed by a sentence period — together
    * exercising lowercasing, www-strip, userinfo skip, and
    * trailing-dot strip. */
  private def urlAugmented(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"), col("source"), col("n_chars"),
      concat(col("text"),
        lit(" see http://www.Site"), (col("doc_id") % 7).cast("string"),
        lit(".Example.com/page?id="), col("doc_id").cast("string"),
        when(col("doc_id") % 10 === 3,
          lit(" and https://bob@Ads.Tracker.NET/p")).otherwise(lit("")),
        when(col("doc_id") % 10 === 6,
          lit(" plus http://spam.io.")).otherwise(lit("")))
        .as("text"))

  /** Corpus-wide domain ranking over extracted, normalized hosts. */
  private def q84(s: SparkSession, dir: String): DataFrame =
    graft.text.DomainOps.domainStats(urlAugmented(s, dir), "doc_id", "text")
      .orderBy("host")

  /** Domain-blocklist filter (suffix match): `tracker.net` blocks the
    * `ads.tracker.net` subdomain host, `spam.io` the bare host. */
  private def q85(s: SparkSession, dir: String): DataFrame =
    graft.text.DomainOps.filterBlockedDomains(urlAugmented(s, dir),
        "doc_id", "text", Seq("tracker.net", "spam.io"))
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy("doc_id")

  /** Cross-batch streaming exact dedup: run 1 ingests the low-id half
    * of the corpus, run 2 the high-id half (duplicates crossing the
    * cut must be suppressed by carried state), run 3 re-sends run 2's
    * files byte-identically and must append NOTHING. The id-monotone
    * cut makes the survivor rule oracle-expressible: the first batch
    * containing a fingerprint also contains its global-minimum doc
    * id, so survivor == min(doc_id) per fp. */
  private def q86(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.IncrementalDedup
    val root = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_q86")
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.delete)
    }
    val inDir = s"$root/in"; val outDir = s"$root/new_docs"
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val cut = 250L
    docs.filter(col("doc_id") < cut).write.parquet(inDir)
    val schema = s.read.parquet(inDir).schema
    IncrementalDedup.dedupRun(s, inDir, outDir, s"$root/ckpt", schema)
    docs.filter(col("doc_id") >= cut).write.mode("append").parquet(inDir)
    IncrementalDedup.dedupRun(s, inDir, outDir, s"$root/ckpt", schema)
    docs.filter(col("doc_id") >= cut).write.mode("append").parquet(inDir)
    IncrementalDedup.dedupRun(s, inDir, outDir, s"$root/ckpt", schema)
    s.read.parquet(outDir).orderBy("fp")
  }

  /** SemDeDup (Abbas et al. 2023) over the embeddings table: stride
    * quantizer (count-derived, same invariant as q43), exhaustive
    * within-cluster pairs at rounded-cosine 0.35, connected
    * components, keep = least-similar-to-centroid exemplar per
    * ε-cluster. The oracle re-derives the whole chain — quantizer,
    * assignment, pair set, reachability, exemplar choice — in SQL. */
  private def q87(s: SparkSession, dir: String): DataFrame =
    graft.sim.SemDedup.semDedup(t(s, dir, "embeddings"), 0.35,
        numCentroids = 20)
      .select(col("id").as("vec_id"), col("cluster"), col("cos_c"),
        col("component"), col("rep_id"), col("keep"))
      .orderBy("vec_id")

  /** CCNet-style LM quality scoring: an interpolated bigram LM
    * trained on the trusted slice doc_id % 10 < 3, scoring the whole
    * documents table. The oracle re-derives the full chain — token
    * pairs, count tables, micro-nat quantized per-type cost, BIGINT
    * doc totals, perplexity — in SQL. */
  private def q88(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.text.LmOps.perplexity(
        docs, docs.filter(pmod(col("doc_id"), lit(10)) < 3),
        "doc_id", "text")
      .orderBy("doc_id")
  }

  /** DSIR data selection: importance weights of every doc between
    * hashed-ngram distributions of the lang='en' target slice and
    * the raw corpus, plus deterministic Gumbel top-100. The oracle
    * re-derives features, distributions, micro-quantized log-ratios,
    * BIGINT doc weights, the Gumbel draw, and the top-k flag. */
  private def q89(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.text.DsirOps.dsirSelect(
        docs, docs.filter(col("lang") === "en"), k = 100,
        idCol = "doc_id", textCol = "text", buckets = 256)
      .orderBy("doc_id")
  }

  /** BM25 top-10 retrieval for four fixed probe queries over the
    * documents table. The oracle re-derives postings, df/length
    * stats, the micro-quantized per-term contributions, BIGINT
    * per-(query, doc) scores, and the ranked cut in SQL. */
  private def q90(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val queries = Seq(
      (1L, "fast merge join"), (2L, "window query sort stream"),
      (3L, "customer order table"), (4L, "slow vector scan"))
      .toDF("query_id", "qtext")
    graft.text.RankOps.bm25TopK(t(s, dir, "documents"), queries, k = 10)
      .orderBy("query_id", "rank")
  }

  /** CCNet head/middle/tail perplexity binning on top of q88's model:
    * tercile cuts are exact rank statistics of the deterministic
    * md5-coordinate ~400-row sample (never a global sort). The
    * oracle re-derives the cuts with a window over the same sample
    * and labels every doc against the same cut values. */
  private def q91(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.text.LmOps.perplexityBuckets(
        docs, docs.filter(pmod(col("doc_id"), lit(10)) < 3),
        "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Winnowing (MOSS) fingerprints of every doc: char-5-gram base-31
    * polynomial hashes (the paper's Karp-Rabin family — plain
    * ascii/mod arithmetic, so the oracle re-derives them without a
    * digest), window 4, rightmost-min selection, deduplicated after
    * explode. The oracle re-derives k-gram hashes, windows, the
    * rightmost-min rule, and the distinct pair set in SQL. */
  private def q92(s: SparkSession, dir: String): DataFrame =
    graft.text.DedupOps
      .winnowFingerprints(t(s, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("pos"), col("h").as("fp"))
      .orderBy("doc_id", "pos", "fp")

  /** C4/RefinedWeb-style corpus-wide duplicate-line removal with
    * keep-first semantics over a deterministic multi-line view of
    * documents (three 80-char chunks + a shared boilerplate footer,
    * so cross-doc duplicate lines and the mass-duplicated footer both
    * exercise the canonical-survivor rule). The oracle re-derives
    * line keys, the (doc, idx) first-occurrence rank, and the
    * reassembled text md5 in SQL. */
  private def q93(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"),
      concat_ws("\n",
        col("text").substr(lit(1), lit(80)),
        col("text").substr(lit(81), lit(80)),
        col("text").substr(lit(161), lit(1000000)),
        lit("(c) corpus boilerplate - all rights reserved")).as("text"))
    graft.text.DedupOps.dedupLinesKeepFirst(docs, "doc_id", "text")
      .select(col("doc_id"), col("n_kept"), col("n_dropped"),
        md5(col("text_out")).as("out_md5"))
      .orderBy("doc_id")
  }

  /** End-to-end fuzzy dedup: q41's MinHash-LSH candidates, exact
    * Jaccard verification at 0.5, components over VERIFIED pairs,
    * keep = canonical min id. The oracle re-derives candidates,
    * per-pair shingle intersections, the verification cut, the
    * recursive reachability, and the keep flag. */
  private def q94(s: SparkSession, dir: String): DataFrame =
    graft.text.DedupOps
      .fuzzyDedupDocs(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** Streaming cross-batch NEAR-dedup (MinHash/LSH buckets in the
    * state store): q86's drive shape — drain the low-id half, append
    * the high-id half and drain, re-send it byte-identical and drain
    * (appends nothing) — over q29's banding (k=3, 4 bands x 2 rows).
    * Ids are fed in nondecreasing batches, so the drained survivor
    * set equals the global batch semantics the oracle states: docs
    * sharing no band key with any lower-id doc. */
  private def q95(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.IncrementalNearDup
    val root = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_q95")
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.delete)
    }
    val inDir = s"$root/in"; val outDir = s"$root/survivors"
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val cut = 250L
    docs.filter(col("doc_id") < cut).write.parquet(inDir)
    val schema = s.read.parquet(inDir).schema
    IncrementalNearDup.nearDedupRun(s, inDir, outDir, s"$root/ckpt", schema)
    docs.filter(col("doc_id") >= cut).write.mode("append").parquet(inDir)
    IncrementalNearDup.nearDedupRun(s, inDir, outDir, s"$root/ckpt", schema)
    docs.filter(col("doc_id") >= cut).write.mode("append").parquet(inDir)
    IncrementalNearDup.nearDedupRun(s, inDir, outDir, s"$root/ckpt", schema)
    s.read.parquet(outDir).orderBy("doc_id")
  }

  /** q95's audit form: every doc (dropped included) gets exactly one
    * (doc_id, kept) verdict row in its first-seen batch — the
    * streaming counterpart of the batch keep-flag convention. Same
    * drive and banding as q95. */
  private def q96(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.IncrementalNearDup
    val root = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_q96")
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.delete)
    }
    val inDir = s"$root/in"; val outDir = s"$root/verdicts"
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val cut = 250L
    docs.filter(col("doc_id") < cut).write.parquet(inDir)
    val schema = s.read.parquet(inDir).schema
    def drain(): Unit = IncrementalNearDup.nearDedupRun(
      s, inDir, outDir, s"$root/ckpt", schema, audit = true)
    drain()
    docs.filter(col("doc_id") >= cut).write.mode("append").parquet(inDir)
    drain()
    docs.filter(col("doc_id") >= cut).write.mode("append").parquet(inDir)
    drain()
    s.read.parquet(outDir).orderBy("doc_id")
  }

  /** Bounded-state approximate streaming dedup: q86's three-drain
    * drive through the sharded-Bloom operator (64 shards x 32768
    * bits, k=4 — 256 KB of state TOTAL regardless of corpus size).
    * Deterministic md5-derived bit positions + id-ordered shard
    * processing make the approximate answer a closed form the
    * oracle restates in SQL. */
  private def q97(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.BloomDedup
    val root = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_q97")
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.delete)
    }
    val inDir = s"$root/in"; val outDir = s"$root/survivors"
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val cut = 250L
    // run 2 re-sends the first 50 texts under fresh ids (+10000) —
    // the corpus fps are all distinct, so these re-keyed dups are
    // what makes the Bloom suppression load-bearing; run 3 is the
    // byte-identical re-send (appends nothing).
    val resent = docs.filter(col("doc_id") < 50)
      .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
    docs.filter(col("doc_id") < cut).write.parquet(inDir)
    val schema = s.read.parquet(inDir).schema
    def drain(): Unit = BloomDedup.bloomDedupRun(
      s, inDir, outDir, s"$root/ckpt", schema)
    drain()
    docs.filter(col("doc_id") >= cut).union(resent)
      .write.mode("append").parquet(inDir)
    drain()
    docs.filter(col("doc_id") >= cut).union(resent)
      .write.mode("append").parquet(inDir)
    drain()
    s.read.parquet(outDir).orderBy("doc_id")
  }

  /** Token-budget corpus selection ([[graft.text.BudgetOps]]): score
    * the pool (priority = stopword ratio, a single integer-ratio
    * division — bit-identical in both engines), lay it out in
    * (priority DESC, doc_id) order, and admit documents until HALF
    * the corpus's tokens are taken (budget = floor(total/2), one
    * parameter-bounded agg action). The oracle re-derives the
    * priority, the total-order cumulative sum (as the window cumsum
    * the operator's two-pass distributed scan replaces), the
    * floor-half budget, and the greedy selection flag. */
  private def q98(s: SparkSession, dir: String): DataFrame = {
    import graft.text.{BudgetOps, TextOps}
    // Stage the token array ONCE (the winnowFingerprints contract —
    // the inlined tokenCount/stopwordRatio pair would re-tokenize
    // ~4x per row), and derive the floor-half budget from the
    // selection's own pass-1 totals instead of a separate agg pass.
    val tk = t(s, dir, "documents").select(col("doc_id"),
      TextOps.tokens(col("text")).as("__tk"))
    val sw = array(TextOps.EnglishStopwords.map(lit): _*)
    val docs = tk.select(col("doc_id"),
      size(col("__tk")).cast("long").as("n_tok"),
      when(size(col("__tk")) > 0,
        size(filter(col("__tk"), x => array_contains(sw, x)))
          .cast("double") / size(col("__tk")))
        .otherwise(lit(0.0)).as("priority"))
    BudgetOps.budgetSelectFraction(docs, "doc_id", "n_tok",
        "priority", 1L, 2L)
      .select(col("doc_id"), col("n_tok"),
        rnd(col("priority"), 6).as("priority"),
        col("cum_tokens"), col("selected"))
      .orderBy("doc_id")
  }

  /** C4 cleaning verdicts ([[graft.text.C4Ops.c4Filter]]) over an
    * engineered multi-line corpus in which every rule trips at least
    * once: a no-terminal-punctuation doc (all lines dropped), a
    * javascript notice line, a too-short line, a lorem-ipsum page, a
    * curly-brace code page, a bad-word page, and a 3-sentence page
    * (under the 5-sentence gate). The full signal vector, keep, and
    * the cleaned-text md5 are re-derived in SQL. */
  private def q99(s: SparkSession, dir: String): DataFrame = {
    import graft.text.C4Ops
    def l(off: Int, p: String): Column =
      concat(col("text").substr(lit(off), lit(30)), lit(p))
    val base5 = concat_ws("\n", l(1, "."), l(31, "!"), l(61, "."),
      l(91, "?"), l(121, "."))
    val docs = t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 20 === 1, concat_ws("\n",
          col("text").substr(lit(1), lit(30)),
          col("text").substr(lit(31), lit(30)),
          col("text").substr(lit(61), lit(30))))
        .when(col("doc_id") % 20 === 2, concat(base5,
          lit("\nplease enable javascript to view this site.")))
        .when(col("doc_id") % 20 === 3, concat(base5, lit("\nok.")))
        .when(col("doc_id") % 20 === 4, concat(base5,
          lit("\nlorem ipsum dolor sit amet.")))
        .when(col("doc_id") % 20 === 5, concat(base5,
          lit("\nif (x) { return y; }")))
        .when(col("doc_id") % 20 === 6, concat(base5,
          lit("\nthis page mentions swearword twice.")))
        .when(col("doc_id") % 20 === 7, concat_ws("\n",
          l(1, "."), l(31, "!"), l(61, ".")))
        .otherwise(base5).as("text"))
    C4Ops.c4Filter(docs, "doc_id", "text")
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        col("n_sentences"), col("has_lorem"), col("has_brace"),
        col("has_bad_word"), col("keep"),
        md5(col("text_out")).as("out_md5"))
      .orderBy("doc_id")
  }

  /** Fuzzy dedup with the QUALITY-canonical survivor
    * ([[graft.text.DedupOps.fuzzyDedupDocsBest]]): q94's verified
    * component chain, but per cluster the HIGHEST-token-count doc
    * survives (smallest id on ties) — the keep-longest convention.
    * The oracle re-derives the whole chain plus the per-component
    * argmax via a window rank. */
  private def q100(s: SparkSession, dir: String): DataFrame =
    graft.text.DedupOps.fuzzyDedupDocsBest(t(s, dir, "documents"),
        "doc_id", "text",
        graft.text.TextOps.tokenCount(col("text")).cast("long"))
      .select(col("doc_id"), col("component"), col("survivor"),
        col("keep"), col("quality").as("q_tokens"))
      .orderBy("doc_id")

  /** NB quality classifier ([[graft.text.ClassifierOps]]): train on
    * the doc_id%10<3 slice labeled (lang == 'en') — the same
    * trusted-slice convention as q88/q89 — with 256 hashed
    * unigram+bigram buckets, then score the WHOLE corpus. The oracle
    * re-derives the feature hashing (q89's CTE), both class count
    * tables, the smoothed micro-quantized log-odds over ALL 256
    * buckets, the prior, and every doc's exact BIGINT score. */
  private def q101(s: SparkSession, dir: String): DataFrame = {
    import graft.text.ClassifierOps
    val docs = t(s, dir, "documents")
    val labeled = docs.filter(col("doc_id") % 10 < 3)
      .select(col("doc_id"), (col("lang") === "en").as("y"), col("text"))
    val model = ClassifierOps.trainNaiveBayes(labeled, "doc_id", "y",
      "text", buckets = 256, seed = 7)
    ClassifierOps.scoreNaiveBayes(docs, model, "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Token-proportioned data MIXING
    * ([[graft.text.BudgetOps.budgetSelectPerStratum]]): within each
    * `source` stratum, admit docs in (priority DESC, id) order until
    * HALF that source's tokens are taken — budgets derived per
    * stratum from the scan's own pass-1 totals. The oracle restates
    * it as a per-source window cumsum + per-source floor-half
    * budgets. */
  private def q102(s: SparkSession, dir: String): DataFrame = {
    import graft.text.{BudgetOps, TextOps}
    val tk = t(s, dir, "documents").select(col("doc_id"),
      col("source"), TextOps.tokens(col("text")).as("__tk"))
    val sw = array(TextOps.EnglishStopwords.map(lit): _*)
    val docs = tk.select(col("doc_id"), col("source"),
      size(col("__tk")).cast("long").as("n_tok"),
      when(size(col("__tk")) > 0,
        size(filter(col("__tk"), x => array_contains(sw, x)))
          .cast("double") / size(col("__tk")))
        .otherwise(lit(0.0)).as("priority"))
    BudgetOps.budgetSelectPerStratumFraction(docs, "doc_id", "n_tok",
        "priority", "source", 1L, 2L)
      .select(col("doc_id"), col("source"), col("n_tok"),
        rnd(col("priority"), 6).as("priority"),
        col("cum_tokens"), col("budget"), col("selected"))
      .orderBy("doc_id")
  }

  /** Overlapping token-window chunking
    * ([[graft.text.ChunkOps.chunkDocs]]): 64-token chunks every 48
    * tokens (16-token overlap). The oracle re-derives the chunk
    * grid, the ragged tail, and every chunk's md5 via list_slice. */
  private def q103(s: SparkSession, dir: String): DataFrame =
    graft.text.ChunkOps.chunkDocs(t(s, dir, "documents"), "doc_id",
        "text", chunkTokens = 64, stride = 48)
      .select(col("doc_id"), col("chunk_idx"), col("n_tokens"),
        md5(col("chunk_text")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")

  /** Cross-snapshot near-dedup
    * ([[graft.text.DedupOps.nearDupAgainst]]): reference = even-id
    * docs, incoming = odd-id docs plus 100 even-id TEXTS re-sent
    * under fresh ids (+10000) — the re-keyed copies are what makes
    * the against-reference flag load-bearing, as in q97. The oracle
    * re-derives both band-key tables and the distinct-key semi join
    * in SQL. */
  private def q104(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val resent = ref.filter(col("doc_id") < 200)
      .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
    val incoming = docs.filter(col("doc_id") % 2 === 1).union(resent)
    graft.text.DedupOps.nearDupAgainst(incoming, ref, "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Corpus composition report
    * ([[graft.text.ReportOps.compositionReport]]): docs / tokens /
    * chars by source, by lang, by source×lang, and overall — one
    * CUBE pass. Every doc_id % 97 == 0 row gets a NULL lang first,
    * so the query exercises the grouping()-mask distinction between
    * a genuinely-NULL data value (keeps its own cell) and a rollup
    * marginal (folded to `(all)`). The oracle restates it as GROUP
    * BY CUBE with the same GROUPING()-gated sentinel fold. */
  private def q105(s: SparkSession, dir: String): DataFrame = {
    import graft.text.{ReportOps, TextOps}
    val docs = t(s, dir, "documents").withColumn("lang",
      when(col("doc_id") % 97 === 0, lit(null).cast("string"))
        .otherwise(col("lang")))
    ReportOps.compositionReport(docs, "source",
        "lang", TextOps.tokenCount(col("text")), "text")
      .orderBy("source", "lang")
  }

  /** BPE tokenizer train + apply ([[graft.text.BpeOps]]): learn 50
    * merges from the deterministic 20% hash sample (top-2000 words),
    * tokenize the whole corpus with the fused kernel. The merge LOOP
    * is not SQL-expressible (each merge rewrites the adjacency the
    * next lookup keys on), so the oracle checks an invariant
    * RESTATEMENT of the output instead: per doc, the subword stream
    * must concatenate back to the normalized token stream exactly
    * (`recon_md5` — DuckDB re-derives it from `text` alone), the
    * subword count must lie in [n_tok, n_chars] (each token yields
    * ≥1 subword of ≥1 char; `bounds_ok` is TRUE on the oracle side),
    * and the learned merge table must have exactly the requested 50
    * rows (`n_merges` — 50 is learnable at every test SF: the
    * sf0.001 sample exhausts the top-2000-word dict at 89 merges, so
    * a 100-row request would come back short there and the count
    * would stop being an SF-independent constant). This pins the
    * distributed `BpeApplyExpr`
    * kernel against an independent engine; the exact segmentation is
    * additionally pinned by `BudgetC4Spec`'s hand-derived merge
    * sequences. */
  private def q106(s: SparkSession, dir: String): DataFrame = {
    import graft.text.{BpeOps, TextOps}
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val model = BpeOps.learnBpe(docs, "doc_id", "text",
      numMerges = 50, sampleRate = 0.2, maxWords = 2000)
    val toks = TextOps.tokens(col("text"))
    BpeOps.applyBpe(docs, "text", model)
      .select(col("doc_id"), col("n_subwords"),
        size(toks).as("n_tok"),
        length(concat_ws("", toks)).as("n_chars"),
        md5(concat_ws("", col("subwords"))).as("recon_md5"))
      .select(col("doc_id"), col("n_tok"), col("n_chars"),
        col("n_subwords").between(col("n_tok"), col("n_chars"))
          .as("bounds_ok"),
        col("recon_md5"),
        lit(model.merges.size).as("n_merges"))
      .orderBy("doc_id")
  }

  /** LSH bucket cap exercised end-to-end
    * ([[graft.text.DedupOps.fuzzyDedupDocs]] `maxBandFreq = 4`): the
    * corpus is augmented with FIVE byte-identical re-keyed copies of
    * every doc_id < 20 doc, so each such group holds 6 identical
    * signatures and every band bucket containing one exceeds the cap
    * — the whole group must come back as singletons (degenerate
    * buckets dropped wholesale), while natural near-dup clusters
    * under the cap survive exactly as in q94. The oracle replays the
    * banding, the bucket-frequency filter, exact-Jaccard
    * verification, and components in DuckDB. */
  private def q107(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    // Synthetic ids are offset by multiples of max(doc_id)+1 so they
    // can never alias a real doc_id at any scale factor (a fixed
    // constant would collide once the table grows past it, silently
    // changing what the query tests).
    val off = docs.agg((max(col("doc_id")) + 1).as("__off"))
    val extra = docs.filter(col("doc_id") < 20)
      .withColumn("r", explode(sequence(lit(0), lit(4))))
      .crossJoin(broadcast(off))
      .select((col("doc_id") + col("__off") * (col("r") + 1))
        .as("doc_id"), col("text"))
    graft.text.DedupOps.fuzzyDedupDocs(docs.union(extra), "doc_id",
        "text", maxBandFreq = 4L)
      .orderBy("doc_id")
  }

  /** Product quantization + ADC search ([[graft.sim.PqOps]]): train
    * 4 codebooks of 4 codes each with ONE deterministic integer Lloyd
    * round (seed = the 4 smallest-id vectors), PQ-encode the corpus,
    * and ADC-rank the 5 query vectors' top-5 by looked-up micro-unit
    * L1. Everything is exact BIGINT, so the oracle replays the whole
    * pipeline — quantization, seed, the Lloyd update's
    * `(2s+n)//(2n)` floor-round, encode argmin (ties to the smaller
    * code), and the per-pair subspace lookup sum — and the hash pins
    * codebook, codes, and distances bit-for-bit. */
  private def q108(s: SparkSession, dir: String): DataFrame = {
    import graft.sim.PqOps
    val emb = t(s, dir, "embeddings")
    val model = PqOps.pqTrain(emb, "vec_id", "embedding",
      subspaces = 4, k = 4, iters = 1)
    val enc = PqOps.pqEncode(emb, "vec_id", "embedding", model)
    PqOps.adcTopK(emb.filter(col("vec_id") < 5), enc, 5, model)
      .orderBy("q_id", "rank")
  }

  /** IVFADC ([[graft.sim.PqOps.ivfPqTopK]]): coarse lists from the
    * count-derived id-modulo centroid sample (the q43 seed) assigned
    * by integer L1, PQ codes from the iters=0 seed codebook (8
    * smallest-id vectors), each query ADC-scoring only its 2 probed
    * lists. The oracle replays coarse assignment, probing, encoding,
    * and the candidate-restricted lookup ranking. */
  private def q109(s: SparkSession, dir: String): DataFrame = {
    import graft.sim.PqOps
    val emb = t(s, dir, "embeddings")
    val model = PqOps.pqTrain(emb, "vec_id", "embedding",
      subspaces = 4, k = 8, iters = 0)
    PqOps.ivfPqTopK(emb.filter(col("vec_id") < 5), emb, 5, model,
        numCoarse = 20, nProbe = 2)
      .orderBy("q_id", "rank")
  }

  /** UniMax budget allocation ([[graft.text.MixOps
    * .unimaxAllocationFraction]]): per-language token budgets for a
    * quarter-of-the-corpus training budget under a 1/3-epoch cap —
    * small languages take their full cap, the head language absorbs
    * the leftover (water-filling). All-integer closed form; the
    * oracle replays the cap arithmetic, the sorted prefix test, and
    * the floor-share + remainder integerization. */
  private def q110(s: SparkSession, dir: String): DataFrame = {
    import graft.text.{MixOps, TextOps}
    val docs = t(s, dir, "documents").select(col("lang"),
      TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
    MixOps.unimaxAllocationFraction(docs, "lang", "n_tok",
        1L, 4L, 1L, 3L)
      .orderBy("stratum")
  }

  /** End-to-end UniMax mixing ([[graft.text.BudgetOps
    * .budgetSelectUnimaxFraction]]): the q110 allocation derived from
    * the fill's own pass-1 totals, then each language greedily filled
    * to its allocated budget in (priority DESC, doc_id) order — the
    * q102 dataflow with DERIVED instead of caller-given budgets. */
  private def q111(s: SparkSession, dir: String): DataFrame = {
    import graft.text.{BudgetOps, TextOps}
    val tk = t(s, dir, "documents").select(col("doc_id"), col("lang"),
      TextOps.tokens(col("text")).as("__tk"))
    val sw = array(TextOps.EnglishStopwords.map(lit): _*)
    val docs = tk.select(col("doc_id"), col("lang"),
      size(col("__tk")).cast("long").as("n_tok"),
      when(size(col("__tk")) > 0,
        size(filter(col("__tk"), x => array_contains(sw, x)))
          .cast("double") / size(col("__tk")))
        .otherwise(lit(0.0)).as("priority"))
    BudgetOps.budgetSelectUnimaxFraction(docs, "doc_id", "n_tok",
        "priority", "lang", 1L, 4L, 1L, 3L)
      .select(col("doc_id"), col("lang"), col("n_tok"),
        rnd(col("priority"), 6).as("priority"),
        col("cum_tokens"), col("budget"), col("selected"))
      .orderBy("doc_id")
  }

  /** IVFADC with residual encoding ([[graft.sim.PqOps
    * .ivfPqTopKResidual]]): same coarse layout as q109, but the PQ
    * codebook trains on (and rows encode) `vec − coarseCentroid`,
    * re-offset to stay all-positive, with ONE Lloyd round on the
    * residuals — the Jégou §IV.B recall refinement. The oracle
    * replays assignment, residual arithmetic, the residual-domain
    * Lloyd update, encode, and the per-probed-list lookup ranking. */
  private def q112(s: SparkSession, dir: String): DataFrame = {
    import graft.sim.PqOps
    val emb = t(s, dir, "embeddings")
    PqOps.ivfPqTopKResidual(emb.filter(col("vec_id") < 5), emb, 5,
        subspaces = 4, codes = 8, iters = 1, numCoarse = 20,
        nProbe = 2)
      .orderBy("q_id", "rank")
  }

  /** PQ/SDC SemDeDup ([[graft.sim.SemDedup.semDedupPq]]): q87's exact
    * dataflow with the quadratic pair stage compressed — codes +
    * error scalars ride the in-cluster self-join, pairs score by SDC
    * table lookup under an exact-recall bound, survivors rescore
    * exactly. Output must be BIT-IDENTICAL to q87 (same oracle). */
  private def q113(s: SparkSession, dir: String): DataFrame =
    graft.sim.SemDedup.semDedupPq(t(s, dir, "embeddings"), 0.35,
        numCentroids = 20)
      .select(col("id").as("vec_id"), col("cluster"), col("cos_c"),
        col("component"), col("rep_id"), col("keep"))
      .orderBy("vec_id")

  /** Square-root temperature mixture allocation ([[graft.text.MixOps
    * .temperatureSqrtAllocationFraction]]): per-language budgets
    * ∝ √tokens for a quarter-corpus training budget — the
    * mBERT/XLM-R α=0.5 sampling recipe, exact-integer via corrected
    * isqrt + Hamilton largest-remainder apportionment. The oracle
    * replays the sqrt correction, the HUGEINT proportional floor,
    * and the remainder ranking. */
  private def q114(s: SparkSession, dir: String): DataFrame = {
    import graft.text.{MixOps, TextOps}
    val docs = t(s, dir, "documents").select(col("lang"),
      TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
    MixOps.temperatureSqrtAllocationFraction(docs, "lang", "n_tok",
        1L, 4L)
      .orderBy("stratum")
  }

  /** ADC shortlist + exact rerank ([[graft.sim.PqOps.adcRerankTopK]],
    * FAISS-style two-stage retrieval): q108's model and code corpus,
    * shortlist 10 per query by ADC, exact integer-L1 rerank of the
    * shortlist to top-5. The oracle replays the whole q108 chain plus
    * the exact rerank of the shortlist pairs. */
  private def q115(s: SparkSession, dir: String): DataFrame = {
    import graft.sim.PqOps
    val emb = t(s, dir, "embeddings")
    val model = PqOps.pqTrain(emb, "vec_id", "embedding",
      subspaces = 4, k = 4, iters = 1)
    val enc = PqOps.pqEncode(emb, "vec_id", "embedding", model)
    PqOps.adcRerankTopK(emb.filter(col("vec_id") < 5), emb, enc,
        k = 5, shortlist = 10, model)
      .orderBy("q_id", "rank")
  }

  /** ANN recall evaluation ([[graft.sim.EvalOps.recallAtK]]): q109's
    * IVFADC result scored against flat ADC over the same codebook as
    * ground truth — per-query hits and exact integer micro-unit
    * recall. The oracle replays both rankings and the semi-join
    * intersection. */
  private def q116(s: SparkSession, dir: String): DataFrame = {
    import graft.sim.{EvalOps, PqOps}
    val emb = t(s, dir, "embeddings")
    val model = PqOps.pqTrain(emb, "vec_id", "embedding",
      subspaces = 4, k = 8, iters = 0)
    val enc = PqOps.pqEncode(emb, "vec_id", "embedding", model)
    val truth = PqOps.adcTopK(emb.filter(col("vec_id") < 5), enc, 5,
      model)
    val approx = PqOps.ivfPqTopK(emb.filter(col("vec_id") < 5), emb, 5,
      model, numCoarse = 20, nProbe = 2)
    EvalOps.recallAtK(approx, truth).orderBy("q_id")
  }

  /** End-to-end √-temperature mixing ([[graft.text.BudgetOps
    * .budgetSelectTemperatureSqrtFraction]]): q114's allocation
    * derived from the fill's own pass-1 totals, then each language
    * greedily filled to its apportioned budget in (priority DESC,
    * doc_id) order — the q111 dataflow with the mBERT α=0.5 recipe
    * in place of UniMax. */
  private def q117(s: SparkSession, dir: String): DataFrame = {
    import graft.text.{BudgetOps, TextOps}
    val tk = t(s, dir, "documents").select(col("doc_id"), col("lang"),
      TextOps.tokens(col("text")).as("__tk"))
    val sw = array(TextOps.EnglishStopwords.map(lit): _*)
    val docs = tk.select(col("doc_id"), col("lang"),
      size(col("__tk")).cast("long").as("n_tok"),
      when(size(col("__tk")) > 0,
        size(filter(col("__tk"), x => array_contains(sw, x)))
          .cast("double") / size(col("__tk")))
        .otherwise(lit(0.0)).as("priority"))
    BudgetOps.budgetSelectTemperatureSqrtFraction(docs, "doc_id",
        "n_tok", "priority", "lang", 1L, 4L)
      .select(col("doc_id"), col("lang"), col("n_tok"),
        rnd(col("priority"), 6).as("priority"),
        col("cum_tokens"), col("budget"), col("selected"))
      .orderBy("doc_id")
  }

  /** SQ8 scalar quantization ([[graft.sim.SqOps]]): per-dimension
    * [min, max] bounds from one corpus pass, 8-bit affine codes, and
    * asymmetric top-k (exact query vs decoded candidates) — the
    * FAISS `SQ8` quantizer tier next to PQ (q108). All-integer:
    * codes round half-up via `(510·(v−min) + span) div (2·span)`,
    * decode is `min + (2·code·span + 255) div 510`, distances are
    * BIGINT L1 sums. The oracle replays bounds, codes, decode, and
    * the all-pairs ranking. */
  private def q118(s: SparkSession, dir: String): DataFrame = {
    import graft.sim.SqOps
    val emb = t(s, dir, "embeddings")
    val model = SqOps.sqTrain(emb, "vec_id", "embedding")
    val enc = SqOps.sqEncode(emb, "vec_id", "embedding", model)
    SqOps.sqTopK(emb.filter(col("vec_id") < 5), enc, 5, model)
      .orderBy("q_id", "rank")
  }

  /** IVF + SQ8 ([[graft.sim.SqOps.ivfSqTopK]]): q118's scalar
    * quantizer composed with q109's coarse-list layer — the
    * `IVF…,SQ8` FAISS layout. Coarse centroids are the count-derived
    * id-modulo sample assigned by integer L1; each query SQ-scores
    * only its 2 probed lists through the merge-pinned probes↔lists
    * join. The oracle replays coarse assignment, probing, SQ
    * encoding/decoding, and the candidate-restricted ranking. */
  private def q119(s: SparkSession, dir: String): DataFrame = {
    import graft.sim.SqOps
    val emb = t(s, dir, "embeddings")
    val model = SqOps.sqTrain(emb, "vec_id", "embedding")
    SqOps.ivfSqTopK(emb.filter(col("vec_id") < 5), emb, 5, model,
        numCoarse = 20, nProbe = 2)
      .orderBy("q_id", "rank")
  }

  /** SSL-prototype diversity pruning ([[graft.sim.PruneOps
    * .protoPrune]]) — the D4 companion to SemDeDup (q87): assign
    * each vector to its nearest coarse centroid (the q87 quantizer
    * verbatim), score prototypicality as the rounded centroid
    * cosine, and drop the most prototypical quarter of each cluster
    * by the exact integer cut floor(n/4). The oracle replays
    * assignment, scoring, the total (cos DESC NULLS LAST, id) rank,
    * and the integer cut. */
  private def q120(s: SparkSession, dir: String): DataFrame =
    graft.sim.PruneOps.protoPrune(t(s, dir, "embeddings"), 1L, 4L,
        numCentroids = 20)
      .select(col("id").as("vec_id"), col("cluster"), col("cos_c"),
        col("rank"), col("cluster_n"), col("keep"))
      .orderBy("vec_id")

  /** Proportional mixture interleave ([[graft.text.InterleaveOps
    * .proportionalInterleave]]): lay the documents table out in the
    * stride-scheduled training order for the recipe
    * en:4 de:2 fr:2 es:1 zh:1 — each stratum's k-th doc gets virtual
    * time floor((2k−1)·8 / (2·w)) (M = lcm(2w) = 8, so the
    * quantization is lossless) and `seq` is the global rank by
    * (key, lang, k). The oracle replays the rank, the exact integer
    * key decomposition, and the global row_number in DuckDB. */
  private def q121(s: SparkSession, dir: String): DataFrame =
    graft.text.InterleaveOps.proportionalInterleave(
        t(s, dir, "documents").select("doc_id", "lang"), "lang",
        "doc_id", Map("en" -> 4L, "de" -> 2L, "fr" -> 2L, "es" -> 1L,
          "zh" -> 1L))
      .select(col("doc_id"), col("lang"), col("mix_k"), col("mix_key"),
        col("seq"))
      .orderBy("doc_id")

  /** OPQ-style permuted PQ ([[graft.sim.OpqOps]]): the Ge 2013
    * eigenvalue-allocation initialization restricted to exact
    * integer arithmetic — dimensions rank by quantized span (one
    * min/max corpus pass), deal into the 4 subspaces in snake
    * order, and q108's PQ chain runs over the permuted vectors. The
    * oracle replays the spans, the snake assignment, the gather,
    * and the full PQ train/encode/ADC ranking. */
  private def q122(s: SparkSession, dir: String): DataFrame = {
    import graft.sim.OpqOps
    val emb = t(s, dir, "embeddings")
    OpqOps.opqAdcTopK(emb.filter(col("vec_id") < 5), emb, 5,
        subspaces = 4, codes = 4, iters = 1)
      .orderBy("q_id", "rank")
  }

  /** Binary-signature Hamming retrieval ([[graft.sim.HammingOps]]):
    * 48 sign bits per vector packed into one BIGINT (Charikar 2002),
    * top-5 by `bit_count(xor)` — the coarsest quantizer tier (one
    * word per vector). The oracle inlines the same seeded plane
    * literals and replays the signatures, the xor popcount, and the
    * ranking. */
  private def q131(s: SparkSession, dir: String): DataFrame = {
    import graft.sim.HammingOps
    val emb = t(s, dir, "embeddings")
    val enc = HammingOps.encode(emb, "vec_id", "embedding")
    HammingOps.hammingTopK(emb.filter(col("vec_id") < 10), enc, 5)
      .orderBy("q_id", "rank")
  }

  /** Wide binary-signature retrieval ([[graft.sim.HammingOps
    * .signatureWide]]): 128 sign bits packed 32-to-the-word into an
    * array<bigint> — the ≥64-bit operating range a production-dim
    * embedding wants — top-5 by the unrolled per-word
    * `bit_count(xor)` sum. The oracle inlines all 128 seeded plane
    * literals and replays the word packing, the xor popcounts, and
    * the ranking. */
  private def q132(s: SparkSession, dir: String): DataFrame = {
    import graft.sim.HammingOps
    val emb = t(s, dir, "embeddings")
    val enc = HammingOps.encodeWide(emb, "vec_id", "embedding")
    HammingOps.hammingTopKWide(emb.filter(col("vec_id") < 10), enc, 5)
      .orderBy("q_id", "rank")
  }

  /** Hamming-shortlist → exact-cosine rerank ([[graft.sim
    * .HammingOps.hammingRerankTopK]]): the two-stage composite the
    * binary tier promises — a 20-deep wide-signature shortlist on
    * pure integer xor/popcount, then exact rounded cosine over only
    * those candidates (the [[graft.sim.PqOps.adcRerankTopK]]
    * pattern). The oracle replays both stages. */
  private def q133(s: SparkSession, dir: String): DataFrame = {
    import graft.sim.HammingOps
    val emb = t(s, dir, "embeddings")
    val enc = HammingOps.encodeWide(emb, "vec_id", "embedding")
    HammingOps.hammingRerankTopK(emb.filter(col("vec_id") < 10), emb,
        enc, 5, 20)
      .orderBy("q_id", "rank")
  }

  /** Hard-negative mining ([[graft.sim.MineOps.hardNegatives]]):
    * q43's IVF retrieval widened to a 10-deep pool, candidates with
    * cosine ≥ 0.9 excluded as near-positives (false negatives for a
    * contrastive loss), survivors exactly re-ranked to top-5. The
    * oracle replays the retrieval, the threshold filter, and the
    * re-rank. */
  private def q130(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.sim.MineOps.hardNegatives(emb.filter(col("vec_id") < 10),
        emb, 5, posThreshold = 0.9, poolK = 10, numCentroids = 20,
        nProbe = 2)
      .orderBy("q_id", "rank")
  }

  /** Exact-count stratified sample ([[graft.text.SampleOps
    * .stratifiedSampleExact]]): exactly floor(n_s/3) docs per source
    * — the lowest hash-coordinate ranks within each stratum, ties by
    * id. The rate-based q63 sampler carries binomial noise; this is
    * the exact-recipe form. Audit frame: every row returns with its
    * rank and verdict. The oracle replays the per-source hash rank
    * and the integer floor cut. */
  private def q129(s: SparkSession, dir: String): DataFrame = {
    import graft.text.SampleOps
    SampleOps.stratifiedSampleExact(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "doc_id", "source", Map.empty, 1L, 3L, "sx")
      .select(col("doc_id"), col("source"), col("sample_rank"),
        col("sampled"))
      .orderBy("doc_id")
  }

  /** Exact distributed quantiles ([[graft.operators.StatsOps
    * .exactQuantiles]]): doc-length order statistics at exact
    * ceil(p·n) ranks under the (value, id) total order — the
    * engine-portable alternative to percentile_approx sketches. One
    * range exchange + two-pass rank placement, no corpus-wide
    * window. The oracle replays the ranks in DuckDB. */
  private def q128(s: SparkSession, dir: String): DataFrame =
    graft.operators.StatsOps.exactQuantiles(t(s, dir, "documents"),
        "n_chars", "doc_id",
        Seq((1L, 4L), (1L, 2L), (3L, 4L), (99L, 100L)))
      .orderBy("rank", "p_num", "p_den")

  /** Quantile-bounded outlier filter ([[graft.operators.StatsOps
    * .filterByQuantileRange]]): keep documents whose length lies
    * within the exact [p5, p95] values — the published-recipe tail
    * cut with engine-portable bounds. The oracle re-derives both
    * rank values and applies the same inclusive comparison. */
  private def q140(s: SparkSession, dir: String): DataFrame =
    graft.operators.StatsOps.filterByQuantileRange(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "n_chars", "doc_id", (1L, 20L), (19L, 20L))
      .orderBy("doc_id")

  /** Streaming token-weighted interleave ([[graft.streaming
    * .StreamingInterleave.interleaveByTokens]]): q124's WFQ schedule
    * stamped by keyed state — (rank, cumulative-token) pairs carried
    * across three cron drains. Drained in id order the stream is
    * bit-identical to the batch operator, so the oracle is q124's
    * replay minus the read-side seq. */
  private def q127(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingInterleave
    import graft.text.TextOps
    val root = streamTmpRoot(s, "q127")
    val inDir = s"$root/in"; val outDir = s"$root/mix"
    val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
      TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
    val w = Map("en" -> 4L, "de" -> 2L, "fr" -> 2L, "es" -> 1L,
      "zh" -> 1L)
    docs.filter(col("doc_id") < 250).coalesce(1).write.parquet(inDir)
    val schema = s.read.parquet(inDir).schema
    def drain(): Unit = StreamingInterleave.interleaveByTokensRun(s,
      inDir, outDir, s"$root/ckpt", schema, "lang", "n_tok", w)
    drain()
    docs.filter(col("doc_id") >= 250 && col("doc_id") < 500)
      .coalesce(1).write.mode("append").parquet(inDir)
    drain()
    docs.filter(col("doc_id") >= 500).coalesce(1).write.mode("append")
      .parquet(inDir)
    drain()
    s.read.parquet(outDir)
      .select(col("doc_id"), col("stratum").as("lang"),
        col("size").as("n_tok"), col("mix_k"), col("mix_key"))
      .orderBy("doc_id")
  }

  /** Per-doc first-occurrence novelty ([[graft.text.ReportOps
    * .firstOccurrenceNovelty]]): distinct 3-shingles per doc and how
    * many have their first corpus occurrence there — the recycled-
    * text diagnostic. The oracle replays the shared shingle CTE, the
    * min-doc firsts table, and both counts. */
  private def q143(s: SparkSession, dir: String): DataFrame =
    graft.text.ReportOps.firstOccurrenceNovelty(
        t(s, dir, "documents"), "doc_id", "text", k = 3)
      .orderBy("doc_id")

  /** Streaming heavy-hitter vocabulary ([[graft.streaming
    * .StreamingVocab]], VERDICT r16 ask #8): per-lang Misra–Gries
    * counter maps (k = 100 per stratum) carried in the state store
    * across three cron drains over ascending doc_id slices, then the
    * exact-recount close-out — final candidate snapshot (max
    * tokens-seen watermark per stratum) joined to exact per-lang
    * token counts and cut at n·100 > N. The MG guarantee makes the
    * output EXACTLY the true per-lang heavy hitters however the
    * stream was sliced, so the oracle replays only the exact counts
    * and the threshold; n_total doubles as the stream-vs-batch
    * parity check (the state's watermark must equal the batch total
    * or the inner join returns rows with mismatched totals and the
    * hash breaks). */
  private def q145(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingVocab
    import graft.text.TextOps
    val root = streamTmpRoot(s, "q145")
    val inDir = s"$root/in"; val outDir = s"$root/cand"
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TextOps.tokens(col("text")).as("toks"))
    docs.filter(col("doc_id") < 250).coalesce(1).write.parquet(inDir)
    val schema = s.read.parquet(inDir).schema
    def drain(): Unit = StreamingVocab.summariesRun(s, inDir, outDir,
      s"$root/ckpt", schema, "lang", "toks", k = 100)
    drain()
    docs.filter(col("doc_id") >= 250 && col("doc_id") < 500)
      .coalesce(1).write.mode("append").parquet(inDir)
    drain()
    docs.filter(col("doc_id") >= 500).coalesce(1).write.mode("append")
      .parquet(inDir)
    drain()
    // Both joins broadcast the PARAMETER-bounded side explicitly
    // (snapshots are <= k rows per stratum per drain): estimate-driven
    // strategy choice could flip to broadcasting the corpus-derived
    // exact-counts side at scale, the audit class EXECJOINS polices.
    val snaps = s.read.parquet(outDir)
    // .distinct: if a stratum's watermark REPEATS across drains (a
    // later slice contributing zero tokens to it re-emits an
    // identical snapshot at the same n_seen), the max-watermark join
    // matches every such drain and would duplicate the stratum's
    // candidate rows; tied-watermark snapshots are identical row
    // sets by construction, so distinct collapses them (ADVICE r17).
    val finalSnap = snaps.join(broadcast(
      snaps.groupBy("stratum").agg(max("n_seen").as("n_seen"))),
      Seq("stratum", "n_seen"))
      .select(col("stratum"), col("token"), col("n_seen"))
      .distinct()
    val exact = docs
      .select(coalesce(col("lang"), lit("")).as("stratum"),
        explode(col("toks")).as("token"))
      .groupBy("stratum", "token").agg(count(lit(1)).as("n_tok"))
    broadcast(finalSnap).join(exact, Seq("stratum", "token"))
      .filter(col("n_tok") * 100 > col("n_seen"))
      .select(col("stratum").as("lang"), col("token"), col("n_tok"),
        col("n_seen").as("n_total"))
      .orderBy("lang", "token")
  }

  /** Register-exact HyperLogLog distinct-token sketch
    * ([[graft.text.SketchOps.hllTokenRegisters]], X76): per-lang HLL
    * registers at m = 4096 — the mergeable distinct-counter whose
    * exchange is constant in corpus size. The REGISTERS are the
    * oracle-checked output (every value an integer derived from md5
    * bits, replayed verbatim in DuckDB via hex-string arithmetic);
    * the float estimate is reader-side by design. */
  private def q146(s: SparkSession, dir: String): DataFrame =
    graft.text.SketchOps.hllTokenRegisters(t(s, dir, "documents"),
        "text", "lang")
      .orderBy("group", "bucket")

  /** Count-min sketch cells ([[graft.text.SketchOps.cmTokenCells]],
    * X77): per-lang CM cells at 4 rows x 4096 columns — the
    * sum-mergeable frequency counter next to q146's max-mergeable
    * HLL. Cells are exact integers from md5 bits (oracle replays
    * the row-seeded hex arithmetic verbatim); point estimates are
    * reader-side. */
  private def q147(s: SparkSession, dir: String): DataFrame =
    graft.text.SketchOps.cmTokenCells(t(s, dir, "documents"),
        "text", "lang")
      .orderBy("group", "row", "col")

  /** Bloom pre-screened contamination ([[graft.text.SketchOps
    * .bloomWords]]/[[graft.text.SketchOps.bloomMightContain]], X78):
    * the 100 TB contamination shape — build a Bloom filter over the
    * eval set's distinct shingles (docs < 25), embed its word table
    * as a plan constant (16 KB of 32-bit-packed words at m = 2^16),
    * and pre-screen the
    * corpus with a NARROW membership expression so only Bloom
    * survivors reach the exact verification join. Per corpus doc:
    * distinct shingles, Bloom hits, exact hits — no false negatives
    * by construction (exact ⊆ bloom, both counted), false positives
    * deterministic and visible as n_bloom_hits − n_exact_hits. */
  private def q148(s: SparkSession, dir: String): DataFrame = {
    import graft.text.{SketchOps, TextOps}
    val mBits = 1 << 16
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    // the fused DistinctShingles kernel, not the HOF form: the r17
    // bloom smoke measured the interpreted per-element shingle HOF
    // dominating both arms (empty-token docs are the one semantic
    // difference -- kernel yields no shingle, HOF a "" one -- and the
    // corpus has none; the oracle's ELSE branch never fires on it)
    def docShingles = explode(graft.functions.MinhashKernel
      .distinctShingles(TextOps.tokens(col("text")), 3)).as("shingle")
    val eval = docs.filter(col("doc_id") < 25)
      .select(docShingles).distinct()
    val wordMap = SketchOps.bloomWords(eval, "shingle", mBits)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // deliberately NOT checkpointed despite two consumers: with the
    // fused tokenizer the shingle + k-probe pass is a cheap narrow
    // scan, and the r17 A/B measured materializing the shingle-string
    // stream at 1.5x the cost of just recomputing it (2.13 vs 3.21 s
    // at sf0.1) — the staging economics the q28 convention codified
    // inverted once tokenization stopped dominating
    val flagged = docs.filter(col("doc_id") >= 25)
      .select(col("doc_id"), docShingles)
      .withColumn("bloom_hit",
        SketchOps.bloomMightContain(col("shingle"), wordMap, mBits))
    val perDoc = flagged.groupBy("doc_id").agg(
      count(lit(1)).as("n_shingles"),
      sum(when(col("bloom_hit"), 1L).otherwise(0L)).as("n_bloom_hits"))
    // exact verify ONLY on Bloom survivors — the pre-screen point;
    // the eval side is fixture-bounded (25 docs), broadcast by rule
    val exactHits = flagged.filter(col("bloom_hit"))
      .join(broadcast(eval), Seq("shingle"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_exact_hits"))
    // shuffle-hash-pinned: exactHits is per-DOC (corpus-row-sized at
    // scale) — an estimate broadcast here is the audit-flagged class
    perDoc.join(exactHits.hint("shuffle_hash"), Seq("doc_id"), "left")
      .withColumn("n_exact_hits",
        coalesce(col("n_exact_hits"), lit(0L)))
      .orderBy("doc_id")
  }

  /** Streaming HLL register sketch ([[graft.streaming
    * .StreamingSketch.hllRegisters]], VERDICT r17 ask #4): per-lang
    * registers carried as keyed streaming state across three cron
    * drains over ascending doc_id slices; close-out = the final
    * snapshot (max tokens-seen watermark per lang), which equals the
    * BATCH sketch register-for-register because the state transition
    * IS the operator's max-merge. Oracle = q146's batch replay plus
    * the per-lang exact token total — n_total doubles as the
    * stream-vs-batch parity signal (the q145 convention: a drain
    * that dropped or double-counted a token breaks the hash). */
  private def q149(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingSketch
    import graft.text.TextOps
    val root = streamTmpRoot(s, "q149")
    val inDir = s"$root/in"; val outDir = s"$root/regs"
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TextOps.tokens(col("text")).as("toks"))
    docs.filter(col("doc_id") < 250).coalesce(1).write.parquet(inDir)
    val schema = s.read.parquet(inDir).schema
    def drain(): Unit = StreamingSketch.sketchRun(s, inDir, outDir,
      s"$root/ckpt", schema, "lang", "toks", "hll")
    drain()
    docs.filter(col("doc_id") >= 250 && col("doc_id") < 500)
      .coalesce(1).write.mode("append").parquet(inDir)
    drain()
    docs.filter(col("doc_id") >= 500).coalesce(1).write.mode("append")
      .parquet(inDir)
    drain()
    val snaps = s.read.parquet(outDir)
    // broadcast = parameter-bounded watermark side; .distinct for
    // tied-watermark snapshot re-emissions (identical rows by
    // construction — the q145 ADVICE fix, same failure shape)
    snaps.join(broadcast(
        snaps.groupBy("group").agg(max("n_seen").as("n_seen"))),
        Seq("group", "n_seen"))
      .select(col("group"), col("bucket"), col("max_rho"),
        col("n_seen").as("n_total"))
      .distinct()
      .orderBy("group", "bucket")
  }

  /** Streaming count-min cells ([[graft.streaming.StreamingSketch
    * .cmCells]], VERDICT r17 ask #4): q149's shape for the
    * sum-merged sketch — per-lang exact CM cells as keyed streaming
    * state, close-out equal to the batch q147 cells cell-for-cell,
    * with the same n_total parity signal. */
  private def q150(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingSketch
    import graft.text.TextOps
    val root = streamTmpRoot(s, "q150")
    val inDir = s"$root/in"; val outDir = s"$root/cells"
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TextOps.tokens(col("text")).as("toks"))
    docs.filter(col("doc_id") < 250).coalesce(1).write.parquet(inDir)
    val schema = s.read.parquet(inDir).schema
    def drain(): Unit = StreamingSketch.sketchRun(s, inDir, outDir,
      s"$root/ckpt", schema, "lang", "toks", "cm")
    drain()
    docs.filter(col("doc_id") >= 250 && col("doc_id") < 500)
      .coalesce(1).write.mode("append").parquet(inDir)
    drain()
    docs.filter(col("doc_id") >= 500).coalesce(1).write.mode("append")
      .parquet(inDir)
    drain()
    val snaps = s.read.parquet(outDir)
    snaps.join(broadcast(
        snaps.groupBy("group").agg(max("n_seen").as("n_seen"))),
        Seq("group", "n_seen"))
      .select(col("group"), col("row"), col("col"), col("n"),
        col("n_seen").as("n_total"))
      .distinct()
      .orderBy("group", "row", "col")
  }

  /** Mergeable rank/quantile sketch ([[graft.operators.StatsOps
    * .rankSketchCells]], X81): per-lang decimal log-buckets over the
    * per-doc token count — the lake-telemetry quantile tier whose
    * cells sum-merge across days/shards (unlike q59's exact
    * quantiles, which rescan per call). Cells are exact integers
    * from decimal-string arithmetic, replayed verbatim by the
    * oracle; quantile bounds are reader-side. */
  private def q151(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    val docs = t(s, dir, "documents")
      .select(col("lang"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
    graft.operators.StatsOps.rankSketchCells(docs, "n_tok", "lang")
      .orderBy("group", "digits", "lead")
  }

  /** Streaming rank sketch ([[graft.streaming.StreamingSketch
    * .rankCells]], X82): q151's decimal buckets as keyed streaming
    * state across three cron drains — sum-merge, so the close-out is
    * the batch sketch cell-for-cell (the q149/q150 argument), with
    * the values-seen watermark as the parity column. */
  private def q152(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingSketch
    import graft.text.TextOps
    val root = streamTmpRoot(s, "q152")
    val inDir = s"$root/in"; val outDir = s"$root/cells"
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
    docs.filter(col("doc_id") < 250).coalesce(1).write.parquet(inDir)
    val schema = s.read.parquet(inDir).schema
    def drain(): Unit = StreamingSketch.rankCellsRun(s, inDir, outDir,
      s"$root/ckpt", schema, "lang", "n_tok")
    drain()
    docs.filter(col("doc_id") >= 250 && col("doc_id") < 500)
      .coalesce(1).write.mode("append").parquet(inDir)
    drain()
    docs.filter(col("doc_id") >= 500).coalesce(1).write.mode("append")
      .parquet(inDir)
    drain()
    val snaps = s.read.parquet(outDir)
    snaps.join(broadcast(
        snaps.groupBy("group").agg(max("n_seen").as("n_seen"))),
        Seq("group", "n_seen"))
      .select(col("group"), col("digits"), col("lead"), col("n"),
        col("n_seen").as("n_total"))
      .distinct()
      .orderBy("group", "digits", "lead")
  }

  /** Systematic PPS sample ([[graft.text.SampleOps
    * .samplePpsSystematic]], X83): 300 token-weighted draws over the
    * documents corpus — exact integer grid over the packOffsets
    * prefix sums, salt-derived start; the oracle replays the
    * coordinate, the window prefix sum, and the ceil-div grid
    * arithmetic verbatim. Σ n_hits = 300 by construction. */
  private def q153(s: SparkSession, dir: String): DataFrame = {
    import graft.text.{SampleOps, TextOps}
    val docs = t(s, dir, "documents")
      .select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
    val out = SampleOps.samplePpsSystematic(docs, "doc_id", "n_tok",
        300L, "q153")
      .select("doc_id", "n_tok", "n_hits")
      .orderBy("doc_id")
      .localCheckpoint(eager = true)
    graft.text.PackOps.releaseSubstrates()
    out
  }

  /** Image near-dup pairs ([[graft.multimodal.MediaDedup]], X84 —
    * VERDICT r18 ask #1): deterministic 18×16 BMPs in exact-dup
    * piles (seed = doc_id % 40) with three engineered dup classes —
    * PNG re-encode (doc_id % 3 = 1: different bytes, identical
    * pixels), global brightness +7 (doc_id % 5 = 2: dHash-invariant
    * when unclamped), and a right-edge "sticker" edit (doc_id % 7 =
    * 3: +80 on x ≥ 14, clamped at 255 — flips only right-column
    * comparisons, a small positive Hamming distance). The REAL
    * ImageIO decoder hashes every payload (the re-encodes exercise
    * the PNG codec path); pairs come from the 4×16-bit rotated-band
    * join at radius 3. The oracle re-derives every pixel, the luma
    * grid, the 64 packed comparison bits (sign bit via two's
    * complement), and the pair set by brute self-join — equal to
    * the banded join by the pigeonhole exactness argument. */
  private def q154(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{MediaDedup, Multimodal}
    import s.implicits._
    val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val sd = (id % 40).toInt
        val bright = id % 5 == 2
        val sticker = id % 7 == 3
        def ch(a: Int, b: Int, c: Int, x: Int, y: Int): Int = {
          var v = (sd * a + x * b + y * c) % 248
          if (bright) v += 7
          if (sticker && x >= 14) v += 80
          math.min(v, 255)
        }
        val bmp = Multimodal.SyntheticMedia.bmp24(18, 16)((x, y) =>
          (ch(3, 7, 11, x, y), ch(5, 11, 3, x, y), ch(7, 3, 13, x, y)))
        (id, if (id % 3 == 1) MediaDedup.pngReencode(bmp) else bmp)
      }.toDF("media_id", "payload")
    MediaDedup.nearDupPairs(MediaDedup.withDhash(media),
        "media_id", "dhash", 3)
      .orderBy("id_a", "id_b")
  }

  /** Media header-metadata passthrough ([[graft.multimodal.Multimodal
    * .headerMeta]], VERDICT r18 ask #8 — the q76 family's no-decode
    * tier): per-doc containers with ARITHMETIC header fields — BMP
    * (width 9+id%7, height 8+id%5, 24 bpp), ImageIO PNG re-encodes
    * (IHDR 8-bit truecolor) carrying one or two real tEXt chunks
    * (CRC32-correct, inserted before IEND), and ImageIO JPEG
    * re-encodes (SOF dims + 8-bit sample precision; pixel content
    * lossy and never pinned — headers are what a sniff reads) — all
    * parsed by the header walker without any pixel decode. The
    * oracle is pure doc_id arithmetic: every surfaced column
    * (format, dims, depth, color type, tEXt count and keyword=value
    * payloads) is a CASE over the residues that built the
    * fixture. */
  private def q155(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{MediaDedup, Multimodal}
    import s.implicits._
    val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val w = 9 + (id % 7).toInt; val h = 8 + (id % 5).toInt
        val sd = (id % 40).toInt
        val bmp = Multimodal.SyntheticMedia.bmp24(w, h)((x, y) =>
          ((sd * 3 + x * 7 + y * 11) % 256, (sd * 5 + x * 11 + y * 3) % 256,
           (sd * 7 + x * 3 + y * 13) % 256))
        val payload =
          if (id % 2 == 1) {
            var png = MediaDedup.pngReencode(bmp)
            png = Multimodal.SyntheticMedia.pngAddText(png, "src",
              s"doc${id % 10}")
            if (id % 6 == 1)
              png = Multimodal.SyntheticMedia.pngAddText(png, "lang",
                s"l${id % 3}")
            png
          } else if (id % 4 == 2) MediaDedup.jpegReencode(bmp)
          else bmp
        (id, payload)
      }.toDF("media_id", "payload")
    Multimodal.headerMeta(media)
      .select(col("media_id").as("doc_id"), col("meta_format"),
        col("meta_width"), col("meta_height"), col("meta_depth"),
        col("meta_color_type"), col("n_text"), col("text_kv"))
      .orderBy("doc_id")
  }

  /** Image average hash ([[graft.multimodal.MediaDedup.ahash64]],
    * X84's second lens): per-doc aHash-64 over 16×16 BMPs — 8×8
    * cell sums vs the global sum, cross-multiplied exact (at these
    * dims: cell·64 > total), 64 bits packed into one signed BIGINT.
    * The brightness-shifted docs (+7 unclamped, doc_id % 5 = 2)
    * exercise aHash's shift invariance in-corpus: both comparison
    * sides move by the same 7000·n_cell·n_total. The oracle
    * re-derives every pixel, cell, comparison, and the sign-bit
    * pack. */
  private def q156(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{MediaDedup, Multimodal}
    import s.implicits._
    val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val sd = (id % 40).toInt
        val bright = if (id % 5 == 2) 7 else 0
        val bmp = Multimodal.SyntheticMedia.bmp24(16, 16)((x, y) =>
          ((sd * 3 + x * 7 + y * 11) % 248 + bright,
           (sd * 5 + x * 11 + y * 3) % 248 + bright,
           (sd * 7 + x * 3 + y * 13) % 248 + bright))
        (id, bmp)
      }.toDF("media_id", "payload")
    MediaDedup.withAhash(media)
      .select(col("media_id").as("doc_id"), col("ahash"))
      .orderBy("doc_id")
  }

  /** Audio near-dup pairs ([[graft.multimodal.MediaDedup
    * .audioHash64]], X86 — completing the modality dedup matrix:
    * text/embeddings/images/now audio): deterministic 256-sample
    * WAVs in piles (seed = doc_id % 40) with two engineered dup
    * classes — exact amplitude doubling (doc_id % 5 = 2: the
    * loudness-remaster class the energy-gradient hash is invariant
    * to by cross-multiplication) and a local edit (doc_id % 7 = 3:
    * first 32 samples replaced, flipping only early-frame
    * comparisons — small positive Hamming distance). The REAL
    * `javax.sound.sampled` parser decodes every payload; pairs come
    * from the same 4×16-bit rotated-band join as q154. The oracle
    * re-derives the samples, the 65 frame energies, the 64 packed
    * comparison bits, and the pair set by brute self-join. */
  private def q157(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{MediaDedup, Multimodal}
    import s.implicits._
    val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val sd = (id % 40).toInt
        val gain = if (id % 5 == 2) 2 else 1
        val edit = id % 7 == 3
        val wav = Multimodal.SyntheticMedia.wavPcm16(8000, 256) { i =>
          val base =
            if (edit && i < 32) 1000
            else (sd * 131 + i * 997) % 32768 - 16384
          base * gain
        }
        (id, wav)
      }.toDF("media_id", "payload")
    MediaDedup.nearDupPairs(MediaDedup.withAudioHash(media),
        "media_id", "audio_hash", 3)
      .orderBy("id_a", "id_b")
  }

  /** Video near-dup pairs ([[graft.multimodal.MediaDedup
    * .videoFrameDhashes]]/[[graft.multimodal.MediaDedup
    * .sharedFrameVideoPairs]], X87): deterministic 6-frame 18×16
    * AVI/DIB videos in piles (seed = doc_id % 40) with three dup
    * classes — brightness +7 (per-frame dHash invariant: full
    * 6-frame match), a 4-frame cut (doc_id % 7 = 3: shares exactly
    * its 4 frames), and a constant "intro card" frame 0 (doc_id %
    * 3 = 1: a boilerplate hash shared ACROSS seeds, which the
    * minShared = 3 cut correctly ignores). The raw RIFF/DIB walker
    * hashes every sampled frame; pairing counts shared distinct
    * frame hashes. The oracle re-derives every frame's pixels,
    * cells, packed bits, and the shared-count pair join. */
  private def q158(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{MediaDedup, Multimodal}
    import s.implicits._
    val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val sd = (id % 40).toInt
        val bright = if (id % 5 == 2) 7 else 0
        val corrupt = id % 3 == 1
        val nf = if (id % 7 == 3) 4 else 6
        val avi = Multimodal.SyntheticMedia.aviDib(18, 16, nf) {
          (f, x, y) =>
            if (corrupt && f == 0) (40, 40, 40)
            else ((sd * 3 + f * 17 + x * 7 + y * 11) % 248 + bright,
                  (sd * 5 + f * 13 + x * 11 + y * 3) % 248 + bright,
                  (sd * 7 + f * 19 + x * 3 + y * 13) % 248 + bright)
        }
        (id, avi)
      }.toDF("media_id", "payload")
    MediaDedup.sharedFrameVideoPairs(
        MediaDedup.videoFrameHashTable(media), minShared = 3)
      .orderBy("id_a", "id_b")
  }

  /** Media near-dup canonicalization ([[graft.multimodal.MediaDedup
    * .canonicalMedia]], X88 — VERDICT r19 ask #1, the pair-list →
    * survivor-set step): the q154 image corpus plus a RESOLUTION
    * class (doc_id % 3 = 0: 2× nearest-neighbor upscale to 36×32 —
    * every 9×8 grid cell doubles uniformly, so the dHash is
    * IDENTICAL and the upscale lands in its pile's cluster), paired
    * at radius 3, clustered by the engine's pointer-jump CC, and
    * canonicalized keep-best by pixel count from the no-decode
    * header sniff (`meta_width·meta_height`), min id on ties. The
    * oracle re-derives every pixel of BOTH sizes, the per-size cell
    * grids, the packed bits, the brute pair join, min-reachable-id
    * components via recursive reachability, and the
    * (n_px DESC, id) survivor pick. */
  private def q159(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{MediaDedup, Multimodal}
    import s.implicits._
    val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val sd = (id % 40).toInt
        val bright = id % 5 == 2
        val sticker = id % 7 == 3
        def ch(a: Int, b: Int, c: Int, x: Int, y: Int): Int = {
          var v = (sd * a + x * b + y * c) % 248
          if (bright) v += 7
          if (sticker && x >= 14) v += 80
          math.min(v, 255)
        }
        def px(x: Int, y: Int): (Int, Int, Int) =
          (ch(3, 7, 11, x, y), ch(5, 11, 3, x, y), ch(7, 3, 13, x, y))
        val bmp =
          if (id % 3 == 0)
            Multimodal.SyntheticMedia.bmp24(36, 32)((x, y) =>
              px(x / 2, y / 2))
          else Multimodal.SyntheticMedia.bmp24(18, 16)(px)
        (id, if (id % 3 == 1) MediaDedup.pngReencode(bmp) else bmp)
      }.toDF("media_id", "payload")
    // ONE media pass (r22, guide §8 / VERDICT r21 ask #4): headerMeta
    // and withDhash are both mapPartitions, so chaining them fuses
    // the header sniff and the pixel decode into a single scan of the
    // synthesized payloads; the narrow (id, dhash, quality) output is
    // checkpointed and fans into pairing AND the survivor nodes. The
    // previous shape ran the synthesis+decode pipeline TWICE (once
    // into nearDupPairs' checkpoint, once for the header sniff). The
    // payload never enters the checkpoint — §8's rule (decide on
    // light proxies) is what the fusion preserves.
    val meta = MediaDedup.withDhash(Multimodal.headerMeta(media))
      .select(col("media_id"), col("dhash"),
        (col("meta_width") * col("meta_height")).as("quality"))
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val pairs = MediaDedup.nearDupPairs(meta, "media_id", "dhash", 3)
    val nodes = meta.select(col("media_id"), col("quality"))
    MediaDedup.canonicalMedia(nodes, pairs)
      .select(col("media_id").as("doc_id"), col("component"),
        col("survivor"), col("keep"), col("quality").as("n_px"))
      .orderBy("doc_id")
  }

  /** Video decode-verdict audit ([[graft.multimodal.MediaDedup
    * .videoDecodeAudit]], X87's poison-row audit — VERDICT r19 ask
    * #3): the q158 corpus with two engineered undecodable classes —
    * header-truncated payloads (doc_id % 11 = 5: cut mid-hdrl, the
    * walk finds no frames) and junk bytes (doc_id % 13 = 7: wrong
    * RIFF magic) — hashed at frameStride 2. Every video gets exactly
    * one audit row off the SAME scan the pair stage uses:
    * undecodable → (0, false) via the sentinel row, decodable → the
    * sampled-frame count (6 frames → 3, the 4-frame cut class → 2).
    * The oracle is pure doc_id residue arithmetic. */
  private def q160(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{MediaDedup, Multimodal}
    import s.implicits._
    val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val sd = (id % 40).toInt
        val nf = if (id % 7 == 3) 4 else 6
        val avi = Multimodal.SyntheticMedia.aviDib(18, 16, nf) {
          (f, x, y) =>
            ((sd * 3 + f * 17 + x * 7 + y * 11) % 248,
             (sd * 5 + f * 13 + x * 11 + y * 3) % 248,
             (sd * 7 + f * 19 + x * 3 + y * 13) % 248)
        }
        val payload: Array[Byte] =
          if (id % 11 == 5) java.util.Arrays.copyOf(avi, 80)
          else if (id % 13 == 7)
            Array.tabulate(64)(i => (i * 37 % 251).toByte)
          else avi
        (id, payload)
      }.toDF("media_id", "payload")
    MediaDedup.videoDecodeAudit(
        MediaDedup.videoFrameHashTable(media, frameStride = 2))
      .select(col("media_id").as("doc_id"), col("n_frames"),
        col("decoded"))
      .orderBy("doc_id")
  }

  /** Dual-lens image pair precision report ([[graft.multimodal
    * .MediaDedup.dualLensPairs]], X84's precision composition —
    * VERDICT r19 ask #6): the q154 corpus hashed ONCE per image into
    * BOTH perceptual lenses ([[graft.multimodal.MediaDedup
    * .withImageHashes]]: dHash gradient + aHash block level), banded
    * pairs at radius 3 per lens, full-outer joined with an
    * agreement class — `both` is the precision cut (re-encode and
    * unclamped-brightness dupes agree under both lenses by
    * invariance), the single-lens rows are the recall audit. The
    * oracle re-derives the shared per-pixel luma frame, BOTH cell
    * grids (dHash 9×8 uniform cells; aHash 8×8 with non-uniform
    * column widths, cross-multiplied by cell counts), both packed
    * hash families, both brute pair sets, and the outer join. */
  private def q161(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{MediaDedup, Multimodal}
    import s.implicits._
    val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val sd = (id % 40).toInt
        val bright = id % 5 == 2
        val sticker = id % 7 == 3
        def ch(a: Int, b: Int, c: Int, x: Int, y: Int): Int = {
          var v = (sd * a + x * b + y * c) % 248
          if (bright) v += 7
          if (sticker && x >= 14) v += 80
          math.min(v, 255)
        }
        val bmp = Multimodal.SyntheticMedia.bmp24(18, 16)((x, y) =>
          (ch(3, 7, 11, x, y), ch(5, 11, 3, x, y), ch(7, 3, 13, x, y)))
        (id, if (id % 3 == 1) MediaDedup.pngReencode(bmp) else bmp)
      }.toDF("media_id", "payload")
    MediaDedup.dualLensPairs(MediaDedup.withImageHashes(media),
        "media_id")
      .select(col("id_a"), col("id_b"), col("hdist_dhash"),
        col("hdist_ahash"), col("agreement"))
      .orderBy("id_a", "id_b")
  }

  /** Streaming cross-batch IMAGE near-dedup ([[graft.streaming
    * .IncrementalNearDup.imageNearDedupRun]], X89 — VERDICT r19 ask
    * #4): the q154 image corpus ingested in three batches with
    * nondecreasing ids — ids < 250, then the rest, then a RE-SEND
    * batch re-encoding every id ≥ 250 image to PNG under id +
    * 1,000,000 (different bytes, identical pixels, identical
    * dHash). dHash band-word buckets live in the state store; a doc
    * survives iff no bucket is already claimed by a lower id, so
    * every re-send is suppressed and the drained survivor set
    * equals the batch band restatement the oracle computes over
    * original ∪ re-send ids. */
  private def q162(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.IncrementalNearDup
    import graft.multimodal.{MediaDedup, Multimodal}
    import s.implicits._
    // applicationId-suffixed root + exit-time cleanup (ADVICE r20):
    // a fixed root lets concurrent harness invocations destroy each
    // other's in-flight checkpoint/input dirs and leaks dirs per run
    val root = streamTmpRoot(s, "q162")
    val inDir = s"$root/in"; val outDir = s"$root/survivors"
    def img(eff: Long): Array[Byte] = {
      val sd = (eff % 40).toInt
      val bright = eff % 5 == 2
      val sticker = eff % 7 == 3
      def ch(a: Int, b: Int, c: Int, x: Int, y: Int): Int = {
        var v = (sd * a + x * b + y * c) % 248
        if (bright) v += 7
        if (sticker && x >= 14) v += 80
        math.min(v, 255)
      }
      Multimodal.SyntheticMedia.bmp24(18, 16)((x, y) =>
        (ch(3, 7, 11, x, y), ch(5, 11, 3, x, y), ch(7, 3, 13, x, y)))
    }
    val ids = t(s, dir, "documents").select(col("doc_id")).as[Long]
    val cut = 250L
    ids.filter(_ < cut).map(id => (id, img(id)))
      .toDF("doc_id", "payload").write.parquet(inDir)
    val schema = s.read.parquet(inDir).schema
    def drain(): Unit = IncrementalNearDup.imageNearDedupRun(
      s, inDir, outDir, s"$root/ckpt", schema)
    drain()
    ids.filter(_ >= cut).map(id => (id, img(id)))
      .toDF("doc_id", "payload").write.mode("append").parquet(inDir)
    drain()
    ids.filter(_ >= cut)
      .map(id => (id + 1000000L, MediaDedup.pngReencode(img(id))))
      .toDF("doc_id", "payload").write.mode("append").parquet(inDir)
    drain()
    s.read.parquet(outDir).orderBy("doc_id")
  }

  /** Streaming cross-batch AUDIO near-dedup ([[graft.streaming
    * .IncrementalNearDup.audioNearDedupRun]], the X89 machinery on
    * the audio fingerprint): the q157 WAV corpus in three batches —
    * ids < 250, the rest, then a RE-SEND of every id ≥ 250 as a
    * gain-2 LOUDNESS REMASTER under id + 1,000,000 (different
    * bytes; identical energy-gradient hash by the spec-pinned
    * amplitude-scaling invariance). Fingerprint band-word buckets
    * live in the state store; every remaster re-send is suppressed
    * and the drained survivor set equals the batch band restatement
    * the oracle computes over original ∪ re-send ids. */
  private def q164(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.IncrementalNearDup
    import graft.multimodal.Multimodal
    import s.implicits._
    // applicationId-suffixed root + exit-time cleanup (ADVICE r20):
    // same routing as q123/q127/q134/q162
    val root = streamTmpRoot(s, "q164")
    val inDir = s"$root/in"; val outDir = s"$root/survivors"
    // md5-arithmetic samples (the register-exact convention): the
    // q157 congruence sawtooth's frame-energy gradients are nearly
    // seed-INdependent (measured: 18 distinct hashes over 40 seeds,
    // 1 band survivor in 500 ids — a degenerate close-out), so pile
    // samples come from md5("<sd>:<i>") instead — uniform energies,
    // 80 distinct hashes / 39 survivors at 500 ids, and DuckDB
    // replays the exact bytes.
    def base(eff: Long, i: Int): Int = {
      val sd = eff % 40
      if (eff % 7 == 3 && i < 32) 1000
      else {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$sd:$i".getBytes("UTF-8"))
        val hi4 = ((d(0) & 0xff) << 8) | (d(1) & 0xff)
        hi4 % 32768 - 16384
      }
    }
    def wav(eff: Long, gain: Int): Array[Byte] =
      Multimodal.SyntheticMedia.wavPcm16(8000, 256)(i =>
        base(eff, i) * gain)
    def origGain(id: Long): Int = if (id % 5 == 2) 2 else 1
    val ids = t(s, dir, "documents").select(col("doc_id")).as[Long]
    val cut = 250L
    ids.filter(_ < cut).map(id => (id, wav(id, origGain(id))))
      .toDF("doc_id", "payload").write.parquet(inDir)
    val schema = s.read.parquet(inDir).schema
    def drain(): Unit = IncrementalNearDup.audioNearDedupRun(
      s, inDir, outDir, s"$root/ckpt", schema)
    drain()
    ids.filter(_ >= cut).map(id => (id, wav(id, origGain(id))))
      .toDF("doc_id", "payload").write.mode("append").parquet(inDir)
    drain()
    // gain-2 remaster of the BASE signal: byte-different for gain-1
    // originals, byte-identical for the gain-2 class — both must
    // drop (hash-identical either way)
    ids.filter(_ >= cut)
      .map(id => (id + 1000000L, wav(id, 2)))
      .toDF("doc_id", "payload").write.mode("append").parquet(inDir)
    drain()
    s.read.parquet(outDir).orderBy("doc_id")
  }

  /** VIDEO canonicalization ([[graft.multimodal.MediaDedup
    * .canonicalMedia]] over [[graft.multimodal.MediaDedup
    * .sharedFrameVideoPairs]] — the X88 step on the modality whose
    * PAIR operator differs from images: containment counting, not
    * banded Hamming): the q158 corpus verbatim (seed piles,
    * brightness remasters, 4-frame cuts, the cross-seed intro card
    * correctly below minShared), pairs at minShared = 3, quality =
    * decoded frame count from [[graft.multimodal.MediaDedup
    * .videoDecodeAudit]] over the SAME frame-hash scan pairing uses
    * — so the full-length 6-frame master beats its 4-frame cut, min
    * id breaks ties among full-length members. The oracle re-derives
    * frames → cells → bits → shared-count pairs (the q158 chain),
    * then recursive min-reachable-id components and the
    * (n_frames DESC, id) survivor pick. */
  private def q163(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{MediaDedup, Multimodal}
    import s.implicits._
    val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val sd = (id % 40).toInt
        val bright = if (id % 5 == 2) 7 else 0
        val corrupt = id % 3 == 1
        val nf = if (id % 7 == 3) 4 else 6
        val avi = Multimodal.SyntheticMedia.aviDib(18, 16, nf) {
          (f, x, y) =>
            if (corrupt && f == 0) (40, 40, 40)
            else ((sd * 3 + f * 17 + x * 7 + y * 11) % 248 + bright,
                  (sd * 5 + f * 13 + x * 11 + y * 3) % 248 + bright,
                  (sd * 7 + f * 19 + x * 3 + y * 13) % 248 + bright)
        }
        (id, avi)
      }.toDF("media_id", "payload")
    val fh = MediaDedup.videoFrameHashTable(media)
      .localCheckpoint(true) // fans into pairing AND the audit
    val pairs = MediaDedup.sharedFrameVideoPairs(fh, minShared = 3)
    val nodes = MediaDedup.videoDecodeAudit(fh)
      .select(col("media_id"), col("n_frames").as("quality"))
    MediaDedup.canonicalMedia(nodes, pairs)
      .select(col("media_id").as("doc_id"), col("component"),
        col("survivor"), col("keep"), col("quality").as("n_frames"))
      .orderBy("doc_id")
  }

  /** BPE fertility / vocab-coverage report ([[graft.text.BpeOps
    * .fertilityReport]], VERDICT r16 ask #6): per (source, lang),
    * the exact integer counts behind fertility (subwords/word),
    * bytes/subword, and OOV-byte share, under a merge table trained
    * on the full corpus (rate 1.0, top-500 words, 16 merges).
    * The oracle is EXACT, not an invariant restatement: merge
    * LEARNING unrolls into 16 chained CTE levels (pair counts over
    * the rendered dict → argmax with the (count DESC, a, b) tie
    * order → rewrite), and merge APPLICATION uses the
    * `|sym|`-delimited rendering where DuckDB's left-to-right
    * non-overlapping `replace('|a||b|' → '|ab|')` reproduces the
    * kernel's greedy merge exactly (for TRAINED tables,
    * rank-sequential exhaustive application — the replay — and the
    * kernel's lowest-rank-first loop coincide: a merge's operands
    * are only producible by strictly earlier merges, so neither
    * order can create a lower-rank pair the other misses; pinned by
    * spec against the learned table on the real corpus). */
  private def q144(s: SparkSession, dir: String): DataFrame = {
    import graft.text.BpeOps
    val docs = t(s, dir, "documents")
    val model = BpeOps.learnBpe(docs.select(col("doc_id"), col("text")),
      "doc_id", "text", numMerges = 16, sampleRate = 1.0,
      maxWords = 500, salt = "fert")
    BpeOps.fertilityReport(docs, "text", Seq("source", "lang"), model)
      .orderBy("source", "lang")
  }

  /** Top-k PMI collocations ([[graft.text.LmOps.collocations]]):
    * bigrams ranked by the quantized exact PMI ratio — log-free,
    * engine-portable integer key; marginals from the same
    * sentinel-free pair table. The oracle replays the pair
    * explode, both marginals, the two-stage integer key, and the
    * rank cut. */
  private def q142(s: SparkSession, dir: String): DataFrame =
    graft.text.LmOps.collocations(t(s, dir, "documents"), "text",
        k = 30, minCount = 5L)
      .orderBy("rank")

  /** Per-source n-gram diversity ([[graft.text.ReportOps
    * .ngramDiversity]]): exact trigram volume and distinct-trigram
    * counts per source — the distinct-n template-spam signal. Both
    * counts are BIGINTs; the oracle replays the gram explode and the
    * two aggregates. */
  private def q141(s: SparkSession, dir: String): DataFrame =
    graft.text.ReportOps.ngramDiversity(t(s, dir, "documents"),
        "text", "source", n = 3)
      .orderBy("group")

  /** Best-fit-decreasing sequence packing ([[graft.text.PackOps
    * .bestFitPack]]): whole documents into capacity-96 bins within
    * recipe-pinned shards (doc_id mod 4), largest-first, each doc to
    * the tightest open bin (ties to the lowest index), oversize docs
    * opening flagged singleton bins. The oracle replays the
    * per-shard traversal as a recursive CTE carrying the open-bin
    * remainder list. */
  private def q139(s: SparkSession, dir: String): DataFrame = {
    import graft.text.{PackOps, TextOps}
    val docs = t(s, dir, "documents").select(col("doc_id"),
      TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
    PackOps.bestFitPack(docs, "doc_id", "n_tok", capacity = 96L,
        numShards = 4)
      .select(col("doc_id"), col("shard"), col("bin"),
        col("size").as("n_tok"), col("overflow"))
      .orderBy("doc_id")
  }

  /** Bounded-state heavy-hitter vocabulary ([[graft.text.VocabOps
    * .heavyHitters]]): exact tokens above a 1/100 corpus-frequency
    * share via per-partition Misra–Gries summaries (superset
    * guarantee) + one exact recount over the bounded candidate set —
    * the token stream itself never shuffles. The result is exact and
    * partitioning-invariant, so the oracle is a plain GROUP
    * BY/HAVING over the same tokenizer. */
  private def q138(s: SparkSession, dir: String): DataFrame =
    graft.text.VocabOps.heavyHitters(t(s, dir, "documents"), "text",
        1L, 100L)
      .orderBy("token")

  /** IVF,SQ8 over a greedy-d² (farthest-point) coarse seed
    * ([[graft.sim.SqOps.ivfSqTopK]] with `coarseSeed = "farthest"`,
    * i.e. [[graft.sim.PqOps.farthestPointSeeds]]): q119's layout with
    * the id-modulo stride sample replaced by the deterministic
    * k-means++-style traversal — seed 0 is the smallest-id row, each
    * next seed the corpus row maximizing its min integer-L1 to the
    * seeds already chosen (ties to the smaller id), stopping early at
    * distance 0. The oracle replays the traversal as a recursive CTE
    * (batch = 1, the pinned contract), then q119's SQ8 decode,
    * assignment, and probed ranking against the new centroid set. */
  private def q137(s: SparkSession, dir: String): DataFrame = {
    import graft.sim.SqOps
    val emb = t(s, dir, "embeddings")
    val model = SqOps.sqTrain(emb, "vec_id", "embedding")
    SqOps.ivfSqTopK(emb.filter(col("vec_id") < 5), emb, 5, model,
        numCoarse = 12, nProbe = 2, coarseSeed = "farthest")
      .orderBy("q_id", "rank")
  }

  /** Residual IVFADC over a Lloyd-refined coarse quantizer
    * ([[graft.sim.PqOps.ivfPqTopKResidual]] with `coarseIters = 1`):
    * q112's layout with one integer Lloyd round on the coarse
    * centroids BEFORE assignment — list quality matters most on the
    * residual path, where both the residual magnitudes and the
    * codebook train against the assigned centroid. The oracle
    * replays seed, assignment, the Lloyd update, the residual
    * codebook training, and the probed ADC ranking. */
  private def q136(s: SparkSession, dir: String): DataFrame = {
    import graft.sim.PqOps
    val emb = t(s, dir, "embeddings")
    PqOps.ivfPqTopKResidual(emb.filter(col("vec_id") < 5), emb, 5,
        subspaces = 4, codes = 8, iters = 1, numCoarse = 20,
        nProbe = 2, coarseIters = 1)
      .orderBy("q_id", "rank")
  }

  /** Split-aware contamination report ([[graft.text.ReportOps
    * .splitContamination]]): q126's leakage-safe group split composed
    * with q65's shingle contamination check, rolled up per split —
    * the audit frame a curation run reviews before training. The
    * oracle replays the split chain, the shingle chain, and the
    * per-split aggregates. */
  private def q135(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val eval = docs.filter(col("doc_id") % 100 === 7)
      .select(col("doc_id").as("eid"), col("text"))
    graft.text.ReportOps.splitContamination(
        docs.select(col("doc_id"), col("source"), col("n_chars"),
          col("text")),
        "doc_id", "text", "source",
        Seq(("train", 4L, 5L), ("val", 1L, 10L), ("test", 1L, 10L)),
        "split", eval, "eid", "text", 3, 2L,
        sizeCol = Some("n_chars"))
      .orderBy("split")
  }

  /** Streaming token-budget fill ([[graft.streaming.StreamingBudget
    * .fill]]): per-language token budgets consumed across three cron
    * drains — ONE Long of keyed state per stratum (the cumulative
    * token total), the batch admission rule (exclusive prefix <
    * budget; a doc that starts under budget is admitted even if it
    * overshoots). Drained in id order the stream is bit-identical to
    * [[graft.text.BudgetOps.budgetSelectPerStratum]] at constant
    * priority, so the oracle replays the per-lang running totals
    * directly. */
  private def q134(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingBudget
    import graft.text.TextOps
    val root = streamTmpRoot(s, "q134")
    val inDir = s"$root/in"; val outDir = s"$root/fill"
    val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
      TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
    val budgets = Map("en" -> 5000L, "de" -> 2500L, "fr" -> 2500L,
      "es" -> 1000L)
    docs.filter(col("doc_id") < 250).coalesce(1).write.parquet(inDir)
    val schema = s.read.parquet(inDir).schema
    def drain(): Unit = StreamingBudget.fillRun(s, inDir, outDir,
      s"$root/ckpt", schema, "lang", "n_tok", budgets,
      defaultBudget = 500L)
    drain()
    docs.filter(col("doc_id") >= 250 && col("doc_id") < 500)
      .coalesce(1).write.mode("append").parquet(inDir)
    drain()
    docs.filter(col("doc_id") >= 500).coalesce(1).write.mode("append")
      .parquet(inDir)
    drain()
    s.read.parquet(outDir)
      .select(col("doc_id"), col("stratum").as("lang"),
        col("size").as("n_tok"), col("cum_tokens"), col("budget"),
        col("selected"))
      .orderBy("doc_id")
  }

  /** Leakage-safe group split ([[graft.text.SampleOps.groupSplit]]):
    * whole sources assigned to train/val/test (4/5, 1/10, 1/10) so
    * correlated documents never straddle a train/eval boundary —
    * cuts are exact integer rationals over char-weighted group sizes
    * in hash-coordinate order. The oracle replays the group sums,
    * the md5 ordering, the exclusive prefix, and the integer cuts. */
  private def q126(s: SparkSession, dir: String): DataFrame = {
    import graft.text.SampleOps
    SampleOps.groupSplit(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("n_chars")),
        "source", Seq(("train", 4L, 5L), ("val", 1L, 10L),
          ("test", 1L, 10L)), "split", sizeCol = Some("n_chars"))
      .select("doc_id", "source", "split")
      .orderBy("doc_id")
  }

  /** IVFADC over a Lloyd-refined coarse quantizer
    * ([[graft.sim.PqOps.coarseCentroids]]): q109's layout with ONE
    * integer Lloyd round on the full-vector coarse centroids before
    * list assignment — the `(2s+n) div (2n)` round-half-up mean per
    * dimension, empty lists keeping their seed. The refinement
    * concentrates lists around actual density (the r15 recall sweep
    * measured raw id-modulo lists recalling ~probed-fraction); cost
    * is one map-side-combining corpus pass collecting |C|·(d+1)
    * cells. The oracle replays seed, assignment, the Lloyd update,
    * and the probed ranking. */
  private def q125(s: SparkSession, dir: String): DataFrame = {
    import graft.sim.PqOps
    val emb = t(s, dir, "embeddings")
    val model = PqOps.pqTrain(emb, "vec_id", "embedding",
      subspaces = 4, k = 8, iters = 0)
    PqOps.ivfPqTopK(emb.filter(col("vec_id") < 5), emb, 5, model,
        numCoarse = 20, nProbe = 2, coarseIters = 1)
      .orderBy("q_id", "rank")
  }

  /** Token-weighted mixture interleave ([[graft.text.InterleaveOps
    * .proportionalInterleaveByTokens]]): q121's recipe with each
    * document "transmitting" for its token count — WFQ/GPS
    * finish-time order (Demers 1989; Parekh & Gallager 1993), so a
    * stratum's share of every PREFIX is proportional in TOKENS.
    * `mix_key = floor((2·cum_prev + n_tok)·M / (2w))`; size ≡ 1
    * collapses to q121's stride schedule. The oracle replays the
    * per-lang token cumsum and the key decomposition. */
  private def q124(s: SparkSession, dir: String): DataFrame = {
    import graft.text.{InterleaveOps, TextOps}
    val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
      TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
    InterleaveOps.proportionalInterleaveByTokens(docs, "lang",
        "doc_id", "n_tok", Map("en" -> 4L, "de" -> 2L, "fr" -> 2L,
          "es" -> 1L, "zh" -> 1L))
      .select(col("doc_id"), col("lang"), col("n_tok"), col("mix_k"),
        col("mix_key"), col("seq"))
      .orderBy("doc_id")
  }

  /** Streaming mixture interleave ([[graft.streaming
    * .StreamingInterleave]]): q121's recipe stamped by keyed state —
    * three cron-style drains over ascending doc_id slices, per-lang
    * ranks carried in the checkpoint across runs. Drained in id
    * order the stream is bit-identical to the batch operator, so the
    * oracle is q121's replay minus the read-side `seq` (a global
    * rank cannot be assigned mid-stream; the training order over the
    * output lake is ORDER BY (mix_key, lang, mix_k)). */
  private def q123(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingInterleave
    val root = streamTmpRoot(s, "q123")
    val inDir = s"$root/in"; val outDir = s"$root/mix"
    val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
    val w = Map("en" -> 4L, "de" -> 2L, "fr" -> 2L, "es" -> 1L,
      "zh" -> 1L)
    // each slice coalesced to one file so every drain is one ordered
    // trigger (ids ascend across drains; the group sort orders within)
    docs.filter(col("doc_id") < 250).coalesce(1).write.parquet(inDir)
    val schema = s.read.parquet(inDir).schema
    def drain(): Unit = StreamingInterleave.interleaveRun(s, inDir,
      outDir, s"$root/ckpt", schema, "lang", w)
    drain()
    docs.filter(col("doc_id") >= 250 && col("doc_id") < 500)
      .coalesce(1).write.mode("append").parquet(inDir)
    drain()
    docs.filter(col("doc_id") >= 500).coalesce(1).write.mode("append")
      .parquet(inDir)
    drain()
    s.read.parquet(outDir)
      .select(col("doc_id"), col("stratum").as("lang"), col("mix_k"),
        col("mix_key"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------

  /** Queries excluded from the benchmark's timed set: multi-run
    * lifecycle fixtures whose cost is dominated by fixture setup
    * (streaming checkpoint init + temp-lake writes), not by the
    * operator under test. They still run in Verify's correctness
    * gate. */
  val benchExclude: Set[String] =
    Set("q56_streaming_append", "q67_stateful_gaps", "q86_streaming_dedup",
      "q95_streaming_near_dedup", "q96_streaming_near_dedup_audit",
      "q97_bloom_dedup", "q123_streaming_interleave",
      "q127_streaming_token_interleave", "q134_streaming_budget",
      "q145_streaming_vocab", "q149_streaming_hll", "q150_streaming_cm",
      "q152_streaming_rank", "q162_streaming_image_neardup",
      "q164_streaming_audio_neardup")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary"  -> (q01 _),
    "q02_date_filter"      -> (q02 _),
    "q03_revenue_by_nation"-> (q03 _),
    "q04_region_rollup"    -> (q04 _),
    "q05_top_order_per_cust" -> (q05 _),
    "q06_event_lag"        -> (q06 _),
    "q07_doc_exact_dedup"  -> (q07 _),
    "q08_dup_key_diag"     -> (q08 _),
    "q09_regular_grid"     -> (q09 _),
    "q10_interval_hist"    -> (q10 _),
    "q11_gap_hist"         -> (q11 _),
    "q12_gap_bounds"       -> (q12 _),
    "q13_date_span"        -> (q13 _),
    "q14_status"           -> (q14 _),
    "q15_diel_mean"        -> (q15 _),
    "q16_daily_downsample" -> (q16 _),
    "q17_mask_range"       -> (q17 _),
    "q18_met_derivations"  -> (q18 _),
    "q19_setops"           -> (q19 _),
    "q20_sessionize"       -> (q20 _),
    "q21_islands"          -> (q21 _),
    "q22_nearest_match"    -> (q22 _),
    "q23_union_kinds"      -> (q23 _),
    "q24_strict_sum"       -> (q24 _),
    "q25_token_stats"      -> (q25 _),
    "q26_langid"           -> (q26 _),
    "q27_fingerprint"      -> (q27 _),
    "q28_ngram_jaccard"    -> (q28 _),
    "q29_minhash_bands"    -> (q29 _),
    "q30_simhash"          -> (q30 _),
    "q31_simhash_pairs"    -> (q31 _),
    "q32_cosine_topk"      -> (q32 _),
    "q33_lsh_ann"          -> (q33 _),
    "q34_toa5_roundtrip"   -> (q34 _),
    "q35_fp2_decode"       -> (q35 _),
    "q36_tob1_roundtrip"   -> (q36 _),
    "q37_multimodal"       -> (q37 _),
    "q38_profile_storage"  -> (q38 _),
    "q39_asof_join"        -> (q39 _),
    "q40_rolling_24h"      -> (q40 _),
    "q41_dedup_components" -> (q41 _),
    "q42_embed_neardup"    -> (q42 _),
    "q43_ivf_ann"          -> (q43 _),
    "q44_toa5_v2_scan"     -> (q44 _),
    "q45_bpeish_tokens"    -> (q45 _),
    "q47_tob3_roundtrip"   -> (q47 _),
    "q48_eddypro_roundtrip"-> (q48 _),
    "q49_fastdata_windows" -> (q49 _),
    "q50_simhash64_pairs"  -> (q50 _),
    "q51_neardup_scaled"   -> (q51 _),
    "q52_netcdf_roundtrip" -> (q52 _),
    "q53_xlsx_roundtrip"   -> (q53 _),
    "q46_tob_v2_scan"      -> (q46 _),
    "q54_merge_legality"   -> (q54 _),
    "q55_csixml_roundtrip" -> (q55 _),
    "q56_streaming_append" -> (q56 _),
    "q57_merge_units"      -> (q57 _),
    "q58_status_artifacts" -> (q58 _),
    "q59_pfp_grammar"      -> (q59 _),
    "q60_keyless_gaps"     -> (q60 _),
    "q61_l1_lifecycle"     -> (q61 _),
    "q62_derive_dispatch"  -> (q62 _),
    "q63_determ_sampling"  -> (q63 _),
    "q64_vocab_idf"        -> (q64 _),
    "q65_contamination"    -> (q65 _),
    "q66_quota_mixing"     -> (q66 _),
    "q67_stateful_gaps"    -> (q67 _),
    "q68_solar_noaa"       -> (q68 _),
    "q69_vis_toa5"         -> (q69 _),
    "q70_seq_packing"      -> (q70 _),
    "q71_repetition"       -> (q71 _),
    "q72_pii_scrub"        -> (q72 _),
    "q73_packed_blocks"    -> (q73 _),
    "q74_shard_export"     -> (q74 _),
    "q75_epoch_mixing"     -> (q75 _),
    "q76_image_decode"     -> (q76 _),
    "q77_gopher_filter"    -> (q77 _),
    "q78_audio_decode"     -> (q78 _),
    "q79_video_decode"     -> (q79 _),
    "q80_dup_spans"        -> (q80 _),
    "q81_remove_spans"     -> (q81 _),
    "q82_decontaminate"    -> (q82 _),
    "q83_normalize_text"   -> (q83 _),
    "q84_domain_stats"     -> (q84 _),
    "q85_blocklist_filter" -> (q85 _),
    "q86_streaming_dedup"  -> (q86 _),
    "q87_semdedup"         -> (q87 _),
    "q88_lm_perplexity"    -> (q88 _),
    "q89_dsir_select"      -> (q89 _),
    "q90_bm25_topk"        -> (q90 _),
    "q91_ppl_buckets"      -> (q91 _),
    "q92_winnow_fp"        -> (q92 _),
    "q93_line_dedup"       -> (q93 _),
    "q94_fuzzy_dedup"      -> (q94 _),
    "q95_streaming_near_dedup" -> (q95 _),
    "q96_streaming_near_dedup_audit" -> (q96 _),
    "q97_bloom_dedup"      -> (q97 _),
    "q98_budget_select"    -> (q98 _),
    "q99_c4_filter"        -> (q99 _),
    "q100_fuzzy_best"      -> (q100 _),
    "q101_nb_classifier"   -> (q101 _),
    "q102_token_mixing"    -> (q102 _),
    "q103_chunking"        -> (q103 _),
    "q104_dedup_against"   -> (q104 _),
    "q105_corpus_report"   -> (q105 _),
    "q106_bpe_tokenize"    -> (q106 _),
    "q107_banded_cap"      -> (q107 _),
    "q108_pq_ann"          -> (q108 _),
    "q109_ivfpq_ann"       -> (q109 _),
    "q110_unimax_alloc"    -> (q110 _),
    "q111_unimax_select"   -> (q111 _),
    "q112_ivfpq_residual"  -> (q112 _),
    "q113_semdedup_pq"     -> (q113 _),
    "q114_temp_alloc"      -> (q114 _),
    "q115_adc_rerank"      -> (q115 _),
    "q116_ann_recall"      -> (q116 _),
    "q117_temp_select"     -> (q117 _),
    "q118_sq_ann"          -> (q118 _),
    "q119_ivfsq_ann"       -> (q119 _),
    "q120_proto_prune"     -> (q120 _),
    "q121_interleave"      -> (q121 _),
    "q122_opq_pq_ann"      -> (q122 _),
    "q123_streaming_interleave" -> (q123 _),
    "q124_token_interleave" -> (q124 _),
    "q125_ivfpq_lloyd"     -> (q125 _),
    "q126_group_split"     -> (q126 _),
    "q127_streaming_token_interleave" -> (q127 _),
    "q128_exact_quantiles" -> (q128 _),
    "q129_exact_strat_sample" -> (q129 _),
    "q130_hard_negatives"  -> (q130 _),
    "q131_hamming_ann"     -> (q131 _),
    "q132_hamming_wide"    -> (q132 _),
    "q133_hamming_rerank"  -> (q133 _),
    "q134_streaming_budget" -> (q134 _),
    "q135_split_contamination" -> (q135 _),
    "q136_ivfpq_residual_lloyd" -> (q136 _),
    "q137_ivfsq_fps"       -> (q137 _),
    "q138_heavy_hitters"   -> (q138 _),
    "q139_bestfit_pack"    -> (q139 _),
    "q140_quantile_filter" -> (q140 _),
    "q141_ngram_diversity" -> (q141 _),
    "q142_pmi_collocations" -> (q142 _),
    "q143_novelty"          -> (q143 _),
    "q144_bpe_fertility"    -> (q144 _),
    "q145_streaming_vocab"  -> (q145 _),
    "q146_hll_registers"    -> (q146 _),
    "q147_cm_cells"         -> (q147 _),
    "q148_bloom_contamination" -> (q148 _),
    "q149_streaming_hll"    -> (q149 _),
    "q150_streaming_cm"     -> (q150 _),
    "q151_rank_sketch"      -> (q151 _),
    "q152_streaming_rank"   -> (q152 _),
    "q153_pps_sample"       -> (q153 _),
    "q154_image_neardup"    -> (q154 _),
    "q155_media_meta"       -> (q155 _),
    "q156_image_ahash"      -> (q156 _),
    "q157_audio_neardup"    -> (q157 _),
    "q158_video_neardup"    -> (q158 _),
    "q159_media_canonical"  -> (q159 _),
    "q160_video_decode_audit" -> (q160 _),
    "q161_dual_lens"        -> (q161 _),
    "q162_streaming_image_neardup" -> (q162 _),
    "q163_video_canonical"  -> (q163 _),
    "q164_streaming_audio_neardup" -> (q164 _),
  )

  /** Shared DuckDB restatement of the UniMax closed form
    * ([[graft.text.MixOps]]): expects a CTE `d` with at least
    * (lang, n_tok); emits `alloc(stratum, n_tokens, cap_tokens,
    * budget, capped, alloc_tokens)`. Same cap/budget floor
    * decomposition, HUGEINT prefix test, and floor-share + remainder
    * integerization as the Spark window pass. */
  private def unimaxOracleChain(num: Int, den: Int, capNum: Int,
      capDen: Int): String = s""",
      tot AS (SELECT coalesce(lang, '') AS stratum,
          sum(n_tok)::BIGINT AS n_tokens FROM d GROUP BY 1),
      cc AS (SELECT stratum, n_tokens,
          ((n_tokens // $capDen) * $capNum
            + ((n_tokens % $capDen) * $capNum) // $capDen)::BIGINT
            AS cap_tokens
        FROM tot),
      w AS (SELECT *,
          row_number() OVER (ORDER BY cap_tokens, stratum) AS pos,
          (sum(cap_tokens) OVER (ORDER BY cap_tokens, stratum))::BIGINT
            AS cumcap,
          count(*) OVER () AS R,
          (sum(n_tokens) OVER ())::BIGINT AS T
        FROM cc),
      b AS (SELECT *, ((T // $den) * $num
          + ((T % $den) * $num) // $den)::BIGINT AS budget FROM w),
      p AS (SELECT *, min(CASE WHEN cap_tokens::HUGEINT * (R - pos + 1)
            > budget::HUGEINT - (cumcap - cap_tokens) THEN pos END)
            OVER () AS pstar FROM b),
      alloc AS (SELECT stratum, n_tokens, cap_tokens, budget,
          (pstar IS NULL OR pos < pstar) AS capped,
          (CASE WHEN pstar IS NULL OR pos < pstar THEN cap_tokens
            ELSE (budget - sbefore) // (R - pstar + 1)
              + CASE WHEN pos - pstar <
                  (budget - sbefore) % (R - pstar + 1)
                THEN 1 ELSE 0 END END)::BIGINT AS alloc_tokens
        FROM (SELECT *, coalesce((sum(CASE WHEN pos < pstar
            THEN cap_tokens END) OVER ())::BIGINT, 0) AS sbefore
          FROM p))"""

  /** DuckDB mirror of [[graft.sim.SemDedup.semDedup]] (q87's
    * parameters: threshold 0.35, C = count/20 id-modulo centroids) —
    * shared verbatim by q113, whose PQ/SDC pair stage must reproduce
    * this output exactly. */
  private def semdedupOracle: String = """
      WITH RECURSIVE e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
                 FROM embeddings),
      n AS (SELECT id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      cent AS (SELECT id AS c_id, v AS cv, nrm AS cnrm FROM n
               WHERE id % greatest(1,
                 (SELECT count(*) FROM embeddings) // 20) = 0),
      assign AS (SELECT n.id, n.v, n.nrm, c_id,
          (CASE WHEN n.nrm > 0.0 AND cnrm > 0.0
            THEN floor(list_inner_product(n.v, cv) / (n.nrm * cnrm)
                   * 1000000.0 + 0.5) / 1000000.0 END) AS cosc,
          row_number() OVER (PARTITION BY n.id ORDER BY
            (CASE WHEN n.nrm > 0.0 AND cnrm > 0.0
              THEN floor(list_inner_product(n.v, cv) / (n.nrm * cnrm)
                     * 1000000.0 + 0.5) / 1000000.0 END) DESC,
            c_id ASC) AS r
        FROM n CROSS JOIN cent),
      m AS (SELECT id, v, nrm, c_id AS cluster, cosc AS cos_c
            FROM assign WHERE r = 1),
      pairs AS (SELECT a.id AS id_a, b.id AS id_b
        FROM m a JOIN m b ON a.cluster = b.cluster AND a.id < b.id
        WHERE (CASE WHEN a.nrm > 0.0 AND b.nrm > 0.0
          THEN floor(list_inner_product(a.v, b.v) / (a.nrm * b.nrm)
                 * 1000000.0 + 0.5) / 1000000.0 END) >= 0.35),
      edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      reach(id, r) AS (
        SELECT id, id FROM m
        UNION
        SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
      comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
      lab AS (SELECT m.id, m.cluster, m.cos_c, comp.component,
          first_value(m.id) OVER (PARTITION BY component
            ORDER BY cos_c ASC NULLS FIRST, m.id ASC) AS rep_id
        FROM m JOIN comp ON m.id = comp.id)
      SELECT id::BIGINT AS vec_id, cluster::BIGINT AS cluster, cos_c,
             component::BIGINT AS component, rep_id::BIGINT AS rep_id,
             (id = rep_id) AS keep
      FROM lab ORDER BY vec_id"""

  private def planeLit(p: Array[Double]): String =
    p.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ", ", "]")

  /** DuckDB mirror of [[graft.sim.HammingOps.hammingTopK]]: the same
    * seeded plane literals, the packed sign signature, and the
    * xor-popcount ranking. */
  private def hammingOracle: String = {
    val hp = graft.sim.Similarity.hyperplanes(48, 64)
    val sig = (0 until 48).map { p =>
      s"(CASE WHEN list_inner_product(v, ${planeLit(hp(p))}::DOUBLE[]) >= 0.0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    s"""
      WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
                 FROM embeddings),
      sg AS (SELECT id, ($sig)::BIGINT AS sig FROM e),
      q AS (SELECT id AS q_id, sig AS qsig FROM sg WHERE id < 10),
      sc AS (SELECT q_id, sg.id AS n_id,
          bit_count(xor(qsig, sig))::INT AS hdist
        FROM q JOIN sg ON q.q_id <> sg.id),
      rk AS (SELECT q_id, n_id, hdist, row_number() OVER (
            PARTITION BY q_id ORDER BY hdist ASC, n_id ASC) AS rank
        FROM sc)
      SELECT q_id, rank::INT AS rank, n_id, hdist
      FROM rk WHERE rank <= 5 ORDER BY q_id, rank"""
  }

  /** Shared DuckDB prelude for the WIDE (multi-word) signature
    * oracles: normalized vectors `n(id, v, nrm)` and per-word packed
    * signatures `sg(id, s0..s{words-1})` from the same seeded plane
    * literals as [[graft.sim.HammingOps.signatureWide]] (word w's
    * bit r = plane w·bpw+r), plus the per-pair word-summed Hamming
    * ranking `rk` over queries id < 10. */
  private def hammingWidePrelude(planes: Int, bpw: Int): String = {
    val words = planes / bpw
    val hp = graft.sim.Similarity.hyperplanes(planes, 64)
    def sigw(w: Int): String = (0 until bpw).map { r =>
      s"(CASE WHEN list_inner_product(v, ${planeLit(hp(w * bpw + r))}::DOUBLE[]) >= 0.0 THEN ${1L << r} ELSE 0 END)"
    }.mkString(" + ")
    val sigCols = (0 until words)
      .map(w => s"(${sigw(w)})::BIGINT AS s$w")
      .mkString(", ")
    val qCols = (0 until words).map(w => s"s$w AS qs$w").mkString(", ")
    val hsum = (0 until words)
      .map(w => s"bit_count(xor(qs$w, s$w))").mkString(" + ")
    s"""
      WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
                 FROM embeddings),
      n AS (SELECT id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      sg AS (SELECT id, $sigCols FROM e),
      q AS (SELECT id AS q_id, $qCols FROM sg WHERE id < 10),
      sc AS (SELECT q_id, sg.id AS n_id, ($hsum)::INT AS hdist
        FROM q JOIN sg ON q.q_id <> sg.id),
      rk AS (SELECT q_id, n_id, hdist, row_number() OVER (
            PARTITION BY q_id ORDER BY hdist ASC, n_id ASC) AS rank
        FROM sc)"""
  }

  /** DuckDB mirror of [[graft.sim.HammingOps.hammingTopKWide]]
    * (128 planes, 32 bits/word). */
  private def hammingWideOracle: String =
    hammingWidePrelude(128, 32) + """
      SELECT q_id, rank::INT AS rank, n_id, hdist
      FROM rk WHERE rank <= 5 ORDER BY q_id, rank"""

  /** DuckDB mirror of [[graft.sim.HammingOps.hammingRerankTopK]]:
    * the wide-signature 20-deep shortlist, then exact rounded cosine
    * re-ranked (cos DESC, n_id ASC — DuckDB's DESC defaults nulls
    * last, the Spark window convention). */
  private def hammingRerankOracle: String =
    hammingWidePrelude(128, 32) + """,
      short AS (SELECT q_id, n_id FROM rk WHERE rank <= 20),
      resc AS (SELECT s.q_id, s.n_id,
          (CASE WHEN qn.nrm > 0.0 AND nn.nrm > 0.0
            THEN floor(list_inner_product(qn.v, nn.v)
                   / (qn.nrm * nn.nrm) * 1000000.0 + 0.5) / 1000000.0
           END) AS cos
        FROM short s JOIN n qn ON s.q_id = qn.id
                     JOIN n nn ON s.n_id = nn.id),
      rk2 AS (SELECT q_id, n_id, cos, row_number() OVER (
            PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
        FROM resc)
      SELECT q_id, rank::INT AS rank, n_id, cos
      FROM rk2 WHERE rank <= 5 ORDER BY q_id, rank"""

  /** DuckDB mirror of [[graft.sim.Similarity.lshTopK]] (8 planes —
    * what `autoPlanes` resolves to for any corpus below 256k rows, so
    * the default-parameter Spark call matches this oracle at every
    * test SF): bucket sign bits computed from the same seeded plane
    * literals, and the same oversize-bucket cap, so the approximate
    * candidate set is hash-checked exactly. */
  private def lshAnnOracle: String = {
    val hp = graft.sim.Similarity.hyperplanes(8, 64)
    val bucket = (0 until 8).map { p =>
      s"(CASE WHEN list_inner_product(v, ${planeLit(hp(p))}::DOUBLE[]) >= 0.0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    s"""
      WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
                 FROM embeddings),
      n AS (SELECT id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      bk0 AS (SELECT id, v, nrm, $bucket AS bucket FROM n),
      ok AS (SELECT bucket FROM bk0 GROUP BY bucket
             HAVING count(*) <= 100000),
      bk AS (SELECT bk0.* FROM bk0 JOIN ok USING (bucket)),
      sc AS (SELECT a.id AS q_id, b.id AS n_id,
          CASE WHEN a.nrm > 0.0 AND b.nrm > 0.0
            THEN floor(list_inner_product(a.v, b.v) / (a.nrm * b.nrm)
                   * 1000000.0 + 0.5) / 1000000.0 END AS cos
        FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.id <> b.id),
      rk AS (SELECT q_id, n_id, cos,
          row_number() OVER (PARTITION BY q_id
            ORDER BY cos DESC, n_id ASC) AS rank
        FROM sc)
      SELECT q_id, n_id, cos, rank FROM rk WHERE rank <= 5
      ORDER BY q_id, rank"""
  }

  /** DuckDB mirror of [[graft.sim.Similarity.cosineNearDupPairs]] for
    * given banding parameters: plane literals are inlined from the
    * same seeded generator the Spark side uses, and the oversize-
    * bucket cap is applied identically (HAVING over the band keys). */
  private def neardupOracle(bands: Int, rowsPerBand: Int,
      threshold: Double): String = {
    val hp = graft.sim.Similarity.hyperplanes(bands * rowsPerBand, 64)
    val bandSelects = (0 until bands).map { b =>
      val key = (0 until rowsPerBand).map { r =>
        s"(CASE WHEN list_inner_product(v, ${planeLit(hp(b * rowsPerBand + r))}::DOUBLE[]) >= 0.0 THEN ${1L << r} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT id, v, nrm, $b AS band, $key AS key FROM n"
    }.mkString("\n      UNION ALL ")
    s"""
      WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
                 FROM embeddings),
      n AS (SELECT id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      bk0 AS ($bandSelects),
      ok AS (SELECT band, key FROM bk0 GROUP BY band, key
             HAVING count(*) <= 100000),
      bk AS (SELECT bk0.* FROM bk0 JOIN ok USING (band, key)),
      cand AS (SELECT a.id AS id_a, b.id AS id_b,
          min(CASE WHEN a.nrm > 0.0 AND b.nrm > 0.0
            THEN floor(list_inner_product(a.v, b.v) / (a.nrm * b.nrm)
                   * 1000000.0 + 0.5) / 1000000.0 END) AS cos
        FROM bk a JOIN bk b
          ON a.band = b.band AND a.key = b.key AND a.id < b.id
        GROUP BY 1, 2)
      SELECT id_a, id_b, cos FROM cand WHERE cos >= $threshold
      ORDER BY id_a, id_b"""
  }

  /** Shared DuckDB CTE: normalized token list per document, mirroring
    * [[graft.text.TextOps.tokens]] exactly. */
  /** Splice `{uXXXX}` placeholders into real unicode characters —
    * lexer `\uXXXX` escapes are deprecated inside triple-quoted
    * strings, and literal combining characters in source are
    * editor-hostile; the placeholder form keeps the codepoints
    * explicit and the source ASCII. */
  private def uSplice(sql: String): String =
    "\\{u([0-9a-fA-F]{4})\\}".r.replaceAllIn(sql, m =>
      scala.util.matching.Regex.quoteReplacement(
        Integer.parseInt(m.group(1), 16).toChar.toString))

  /** q144's exact BPE replay, generated per (numMerges, maxWords):
    * learning unrolls into `m` chained levels over the top-`maxWords`
    * dict (adjacent-pair counts from the `|sym|`-rendered word →
    * argmax under the exact (count DESC, a ASC, b ASC) Scala tie
    * order → dict rewrite via `replace`), application chains the same
    * `replace('|a||b|' → '|ab|')` per rank over every DISTINCT corpus
    * word (LTR non-overlapping `replace` = the kernel's greedy merge;
    * the delimiters make symbol matches exact — no prefix/suffix
    * aliasing). `coalesce(replace(s, NULL, NULL), s)` makes exhausted
    * levels (empty `b_i`) a no-op, mirroring learnMerges' early stop.
    * Per-word stats then aggregate by (source, lang) via the
    * occurrence counts, never re-running BPE per occurrence. */
  private def bpeFertilityOracle(m: Int, maxWords: Int): String = {
    def rewrite(i: Int): String =
      s"""coalesce(replace(s,
          (SELECT '|'||a||'||'||b||'|' FROM b$i),
          (SELECT '|'||a||b||'|' FROM b$i)), s) AS s"""
    val learn = (1 to m).map { i =>
      s"""
      p$i AS MATERIALIZED (
        SELECT pr[1] AS a, pr[2] AS b, sum(c)::BIGINT AS cnt FROM (
          SELECT unnest(list_transform(range(1, len(sy)),
            i -> [sy[i], sy[i+1]])) AS pr, c
          FROM (SELECT string_split(trim(s, '|'), '||') AS sy, c
                FROM d${i - 1}))
        GROUP BY 1, 2),
      b$i AS MATERIALIZED (SELECT a, b FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
      d$i AS MATERIALIZED (SELECT c, ${rewrite(i)} FROM d${i - 1})"""
    }.mkString(",")
    val apply = (1 to m).map(i =>
      s"""
      a$i AS MATERIALIZED (SELECT w, ${rewrite(i)} FROM a${i - 1})""").mkString(",")
    s"""
      WITH tok0 AS MATERIALIZED (SELECT doc_id, source, lang,
          list_filter(string_split_regex(
            regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
            x -> x <> '') AS toks
        FROM documents),
      wc AS MATERIALIZED (SELECT w, count(*)::BIGINT AS c
        FROM (SELECT unnest(toks) AS w FROM tok0) GROUP BY w),
      top AS (SELECT w, c FROM wc ORDER BY c DESC, w ASC LIMIT $maxWords),
      d0 AS MATERIALIZED (SELECT regexp_replace(w, '(.)', '|\\1|', 'g') AS s, c
             FROM top),$learn,
      a0 AS MATERIALIZED (SELECT w, regexp_replace(w, '(.)', '|\\1|', 'g') AS s
             FROM wc),$apply,
      wstat AS (SELECT w, length(w)::BIGINT AS n_bytes,
          len(sy)::BIGINT AS n_sub,
          len(list_filter(sy, x -> length(x) = 1))::BIGINT AS n_single
        FROM (SELECT w, string_split(trim(s, '|'), '||') AS sy
              FROM a$m)),
      gdocs AS (SELECT source, lang, count(*)::BIGINT AS n_docs
        FROM documents GROUP BY 1, 2),
      gw AS (SELECT source, lang, w, count(*)::BIGINT AS n_occ
        FROM (SELECT source, lang, unnest(toks) AS w FROM tok0)
        GROUP BY 1, 2, 3),
      agg AS (SELECT g.source, g.lang,
          sum(g.n_occ)::BIGINT AS n_words,
          sum(g.n_occ * ws.n_bytes)::BIGINT AS n_word_bytes,
          sum(g.n_occ * ws.n_sub)::BIGINT AS n_subwords,
          sum(g.n_occ * ws.n_single)::BIGINT AS n_singleton_bytes
        FROM gw g JOIN wstat ws ON g.w = ws.w GROUP BY 1, 2)
      SELECT d.source, d.lang, d.n_docs,
        coalesce(a.n_words, 0) AS n_words,
        coalesce(a.n_word_bytes, 0) AS n_word_bytes,
        coalesce(a.n_subwords, 0) AS n_subwords,
        coalesce(a.n_singleton_bytes, 0) AS n_singleton_bytes
      FROM gdocs d LEFT JOIN agg a USING (source, lang)
      ORDER BY source, lang"""
  }

  private val tokCte = """
      WITH tk AS (SELECT doc_id,
        list_filter(string_split_regex(
          regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
          x -> x <> '') AS toks
      FROM documents)"""

  /** Shared DuckDB CTE: distinct 3-token shingles per document,
    * mirroring [[graft.text.TextOps.shingles]]. */
  private val shingleCte = tokCte + """,
      sh AS (SELECT doc_id, unnest(list_distinct(
          CASE WHEN len(toks) >= 3
            THEN list_transform(range(1, len(toks) - 1),
              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
            ELSE [array_to_string(toks, ' ')] END)) AS shingle
        FROM tk)"""

  /** Shared DuckDB CTE: the full [[graft.text.LmOps.perplexity]]
    * chain (ref = doc_id % 10 < 3) ending in `outq(doc_id, n_tok,
    * nll_micro, ppl)` — the q88 result, reused by q91's bucketing. */
  private val lmCte = tokCte + """,
      pp AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)+1),
            i -> {'v': CASE WHEN i = 1 THEN '<s>' ELSE toks[i-1] END,
                  'w': toks[i]})) AS p FROM tk),
      pr AS (SELECT doc_id, p.v AS v, p.w AS w FROM pp),
      refp AS (SELECT v, w FROM pr WHERE doc_id % 10 < 3),
      uni AS (SELECT w, count(*)::BIGINT AS c_w FROM refp GROUP BY w),
      bi AS (SELECT v, w, count(*)::BIGINT AS c_vw FROM refp
             GROUP BY v, w),
      ctx AS (SELECT v, sum(c_vw)::BIGINT AS c_v FROM bi GROUP BY v),
      tot AS (SELECT coalesce(sum(c_w), 0)::DOUBLE AS t,
                     count(*)::DOUBLE AS vsz FROM uni),
      dp AS (SELECT doc_id, v, w, count(*)::BIGINT AS n_occ
             FROM pr GROUP BY doc_id, v, w),
      ty AS (SELECT DISTINCT v, w FROM dp),
      scored AS (SELECT ty.v, ty.w,
          CAST(floor(-ln(CASE WHEN ctx.c_v IS NOT NULL
            THEN 0.75 * (coalesce(bi.c_vw, 0) / ctx.c_v)
                 + (1.0 - 0.75) * ((coalesce(uni.c_w, 0) + 1.0)
                     / (tot.t + tot.vsz + 1.0))
            ELSE (coalesce(uni.c_w, 0) + 1.0)
                 / (tot.t + tot.vsz + 1.0) END)
            * 1000000.0 + 0.5) AS BIGINT) AS nll1
        FROM ty CROSS JOIN tot
        LEFT JOIN bi ON ty.v = bi.v AND ty.w = bi.w
        LEFT JOIN ctx ON ty.v = ctx.v
        LEFT JOIN uni ON ty.w = uni.w),
      perdoc AS (SELECT dp.doc_id, sum(n_occ)::BIGINT AS n_tok,
          sum(n_occ * nll1)::BIGINT AS nll_micro
        FROM dp JOIN scored ON dp.v = scored.v AND dp.w = scored.w
        GROUP BY dp.doc_id),
      outq AS (SELECT d.doc_id, coalesce(n_tok, 0)::BIGINT AS n_tok,
        coalesce(nll_micro, 0)::BIGINT AS nll_micro,
        CASE WHEN n_tok > 0 THEN
          floor(exp(nll_micro / 1000000.0 / n_tok) * 1000000.0 + 0.5)
            / 1000000.0
        END AS ppl
      FROM documents d LEFT JOIN perdoc ON d.doc_id = perdoc.doc_id)"""

  /** Shared DuckDB CTE mirroring [[urlAugmented]]'s deterministic
    * URL injection. */
  private val urlAugCte = """
      WITH c AS (SELECT doc_id, source, n_chars,
        text || ' see http://www.Site' || (doc_id % 7)::VARCHAR
             || '.Example.com/page?id=' || doc_id::VARCHAR
             || CASE WHEN doc_id % 10 = 3
                  THEN ' and https://bob@Ads.Tracker.NET/p' ELSE '' END
             || CASE WHEN doc_id % 10 = 6
                  THEN ' plus http://spam.io.' ELSE '' END AS text
        FROM documents)"""

  /** Extracted, normalized host rows — the DuckDB mirror of
    * [[graft.text.DomainOps.docHosts]] (same regex dialect). */
  private val hostCte = """
      hosts AS (SELECT doc_id,
          regexp_replace(regexp_replace(lower(h),
            '^www\.', ''), '\.$', '') AS host
        FROM (SELECT doc_id, unnest(regexp_extract_all(text,
                'https?://(?:[A-Za-z0-9._%+-]+@)?([A-Za-z0-9.-]+)', 1)) AS h
              FROM c))"""

  /** DuckDB-equivalent SQL per query (same column names and ORDER BY). */
  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" -> """
      SELECT l_returnflag, l_linestatus,
             floor((sum(l_quantity)) * 100.0 + 0.5) / 100.0 AS sum_qty,
             floor((sum(l_extendedprice)) * 100.0 + 0.5) / 100.0 AS sum_base_price,
             floor((sum(l_extendedprice * (1.0 - l_discount))) * 100.0 + 0.5) / 100.0 AS sum_disc_price,
             floor((avg(l_quantity)) * 10000.0 + 0.5) / 10000.0 AS avg_qty,
             floor((avg(l_extendedprice)) * 10000.0 + 0.5) / 10000.0 AS avg_price,
             count(*) AS count_order
      FROM lineitem GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",
    "q02_date_filter" -> """
      SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
        AND o_totalprice > 100000.0
      ORDER BY o_orderkey""",
    "q03_revenue_by_nation" -> """
      SELECT n_name,
             floor((sum(l_extendedprice * (1.0 - l_discount))) * 100.0 + 0.5) / 100.0 AS revenue,
             count(*) AS n_lines
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name""",
    "q04_region_rollup" -> """
      SELECT r_name, count(*) AS n_customers,
             floor((sum(c_acctbal)) * 100.0 + 0.5) / 100.0 AS sum_acctbal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name ORDER BY r_name""",
    "q05_top_order_per_cust" -> """
      SELECT o_custkey, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        FROM orders) WHERE rn = 1
      ORDER BY o_custkey""",
    "q06_event_lag" -> """
      SELECT event_id, user_id,
             (epoch_us(ts) - lag(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id)) // 1000000
               AS gap_sec
      FROM events ORDER BY event_id""",
    "q07_doc_exact_dedup" -> """
      SELECT source, count(*) AS n_docs,
             count(DISTINCT text) AS n_distinct_texts
      FROM documents GROUP BY source ORDER BY source""",
    "q08_dup_key_diag" -> """
      SELECT l_orderkey, count(*) AS n_rows,
             count(DISTINCT l_partkey) AS n_distinct
      FROM lineitem GROUP BY l_orderkey HAVING count(*) > 1
      ORDER BY l_orderkey""",
    "q09_regular_grid" -> """
      WITH e AS (SELECT date_trunc('hour', ts) AS hour_ts, event_id FROM events),
      span AS (SELECT min(hour_ts) AS t0, max(hour_ts) AS t1 FROM e),
      grid AS (SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS hour_ts FROM span)
      SELECT g.hour_ts, count(e.event_id) AS n_events
      FROM grid g LEFT JOIN e ON e.hour_ts = g.hour_ts
      GROUP BY g.hour_ts ORDER BY g.hour_ts""",
    "q10_interval_hist" -> """
      WITH d AS (
        SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER (ORDER BY ts) AS du
        FROM (SELECT DISTINCT ts FROM events))
      SELECT du // 1000000 AS delta_sec, count(*) AS n
      FROM d WHERE du IS NOT NULL GROUP BY 1 ORDER BY 1""",
    "q11_gap_hist" -> """
      WITH d AS (
        SELECT (epoch_us(ts) - lag(epoch_us(ts)) OVER
                 (PARTITION BY user_id ORDER BY ts)) // 1000000 AS gap_sec
        FROM events)
      SELECT gap_sec // 3600 - 1 AS n_records, count(*) AS n_gaps
      FROM d WHERE gap_sec > 3600 GROUP BY 1 ORDER BY 1""",
    "q12_gap_bounds" -> """
      WITH d AS (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts,
               (epoch_us(ts) - lag(epoch_us(ts)) OVER
                 (PARTITION BY user_id ORDER BY ts)) // 1000000 AS gap_sec
        FROM events)
      SELECT user_id, prev_ts AS gap_start, ts AS gap_end,
             gap_sec // 21600 - 1 AS n_records
      FROM d WHERE gap_sec > 21600 ORDER BY user_id, gap_start""",
    "q13_date_span" -> """
      SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts,
             count(*) AS n_records
      FROM events GROUP BY user_id ORDER BY user_id""",
    "q14_status" -> """
      WITH m AS (
        SELECT *, CASE WHEN value BETWEEN 0.0 AND 150.0 THEN value END AS v
        FROM events)
      SELECT user_id, max(ts) AS last_ts,
             max(CASE WHEN v IS NOT NULL THEN ts END) AS last_valid_ts,
             arg_max(v, ts) FILTER (WHERE v IS NOT NULL) AS last_valid_value,
             count(CASE WHEN ts >= TIMESTAMP '2024-01-30 00:00:00' THEN 1 END) AS n_24h,
             count(CASE WHEN ts >= TIMESTAMP '2024-01-30 00:00:00'
                         AND v IS NOT NULL THEN 1 END) AS n_valid_24h
      FROM m GROUP BY user_id ORDER BY user_id""",
    "q15_diel_mean" -> """
      SELECT hour(ts) AS hh, floor((avg(value)) * 10000.0 + 0.5) / 10000.0 AS avg_value,
             count(*) AS n
      FROM events GROUP BY 1 ORDER BY 1""",
    "q16_daily_downsample" -> """
      SELECT event_type, date_trunc('day', ts) AS day_ts,
             floor((avg(value)) * 10000.0 + 0.5) / 10000.0 AS avg_value, count(*) AS n
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q17_mask_range" -> """
      WITH m AS (
        SELECT l_returnflag,
               CASE WHEN l_quantity BETWEEN 5.0 AND 45.0 THEN l_quantity END AS q_masked
        FROM lineitem)
      SELECT l_returnflag, count(*) AS n_rows, count(q_masked) AS n_valid,
             floor((avg(q_masked)) * 10000.0 + 0.5) / 10000.0 AS avg_masked,
             floor((sum(q_masked)) * 100.0 + 0.5) / 100.0 AS sum_masked
      FROM m GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q18_met_derivations" -> """
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
      FROM d2 GROUP BY flag ORDER BY flag""",
    "q19_setops" -> """
      SELECT n_name FROM nation JOIN customer ON n_nationkey = c_nationkey
      EXCEPT
      SELECT n_name FROM nation JOIN supplier ON n_nationkey = s_nationkey
      ORDER BY n_name""",
    "q20_sessionize" -> """
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
      FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""",
    "q21_islands" -> """
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
      ORDER BY user_id, start_ts""",
    "q22_nearest_match" -> """
      SELECT s_suppkey, c_custkey, bal_diff FROM (
        SELECT s_suppkey, c_custkey,
               floor((abs(s_acctbal - c_acctbal)) * 100.0 + 0.5) / 100.0 AS bal_diff,
               row_number() OVER (PARTITION BY s_suppkey
                 ORDER BY floor((abs(s_acctbal - c_acctbal)) * 100.0 + 0.5) / 100.0, c_custkey) AS rn
        FROM supplier JOIN customer ON s_nationkey = c_nationkey)
      WHERE rn = 1 ORDER BY s_suppkey""",
    "q23_union_kinds" -> """
      WITH u AS (
        SELECT c_nationkey AS nationkey, 'cust' AS kind FROM customer
        UNION ALL
        SELECT s_nationkey AS nationkey, 'supp' AS kind FROM supplier)
      SELECT nationkey,
             count(CASE WHEN kind = 'cust' THEN 1 END) AS n_cust,
             count(CASE WHEN kind = 'supp' THEN 1 END) AS n_supp
      FROM u GROUP BY nationkey ORDER BY nationkey""",
    "q24_strict_sum" -> """
      WITH m AS (
        SELECT l_returnflag,
               CASE WHEN l_quantity BETWEEN 5.0 AND 45.0 THEN l_quantity END AS q_masked
        FROM lineitem)
      SELECT l_returnflag,
             CASE WHEN count(*) = count(q_masked)
                  THEN floor((sum(q_masked)) * 100.0 + 0.5) / 100.0 END AS strict_sum,
             count(*) AS n_rows
      FROM m GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q25_token_stats" -> (tokCte + """
      SELECT tk.doc_id, len(toks) AS n_tokens, d.n_chars,
             floor((CASE WHEN length(d.text) > 0
               THEN length(regexp_replace(lower(d.text), '[a-z0-9 ]', '', 'g'))::DOUBLE / length(d.text)
               ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS punct_ratio,
             floor((CASE WHEN len(toks) > 0
               THEN len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','at','by','be','are'], x)))::DOUBLE / len(toks)
               ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS stop_ratio,
             floor((CASE WHEN len(toks) > 0
               THEN list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks)
               ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS mean_tok_len
      FROM tk JOIN documents d ON tk.doc_id = d.doc_id
      ORDER BY tk.doc_id"""),
    "q26_langid" -> (tokCte + """,
      sc AS (SELECT doc_id,
        len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','ein','mit'], x))) AS s_de,
        len(list_filter(toks, x -> list_contains(['the','and','is','of','to','a','in','that'], x))) AS s_en,
        len(list_filter(toks, x -> list_contains(['el','la','de','que','y','los','una','por'], x))) AS s_es,
        len(list_filter(toks, x -> list_contains(['le','la','les','et','est','une','pour','dans'], x))) AS s_fr
      FROM tk)
      SELECT doc_id,
        CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
             WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
             WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS lang_guess
      FROM sc ORDER BY doc_id"""),
    "q27_fingerprint" -> (tokCte + """
      SELECT doc_id, md5(array_to_string(toks, ' ')) AS fp
      FROM tk ORDER BY doc_id"""),
    "q28_ngram_jaccard" -> (shingleCte + """,
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b, n_shared, sa.n AS n_a, sb.n AS n_b,
             floor((n_shared::DOUBLE / (sa.n + sb.n - n_shared)) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
      FROM pairs JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE n_shared::DOUBLE / (sa.n + sb.n - n_shared) >= 0.5
      ORDER BY id_a, id_b"""),
    "q29_minhash_bands" -> (shingleCte + """,
      mins AS (SELECT doc_id, j,
          min(('0x' || substr(md5((j // 4)::VARCHAR || ':' || shingle),
            1 + 8 * (j % 4), 8))::BIGINT) AS h
        FROM sh CROSS JOIN range(0, 8) t(j) GROUP BY doc_id, j),
      bands AS (SELECT doc_id, j // 2 AS band,
          md5(string_agg(h::VARCHAR, ',' ORDER BY j)) AS key
        FROM mins GROUP BY doc_id, j // 2)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared_bands
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
      GROUP BY 1, 2 ORDER BY id_a, id_b"""),
    "q30_simhash" -> (tokCte + """,
      h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 4))::BIGINT AS h
        FROM (SELECT doc_id, unnest(toks) AS tok FROM tk)),
      bits AS (SELECT tk.doc_id, t.j,
          CASE WHEN coalesce(sum(CASE WHEN (h.h >> t.j) & 1 = 1 THEN 1 ELSE -1 END), 0) >= 0
               THEN 1 << t.j ELSE 0 END AS bv
        FROM tk CROSS JOIN range(0, 16) t(j)
        LEFT JOIN h ON tk.doc_id = h.doc_id
        GROUP BY tk.doc_id, t.j)
      SELECT doc_id, sum(bv)::BIGINT AS sh FROM bits GROUP BY doc_id
      ORDER BY doc_id"""),
    "q31_simhash_pairs" -> (tokCte + """,
      h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 4))::BIGINT AS h
        FROM (SELECT doc_id, unnest(toks) AS tok FROM tk)),
      bits AS (SELECT tk.doc_id, t.j,
          CASE WHEN coalesce(sum(CASE WHEN (h.h >> t.j) & 1 = 1 THEN 1 ELSE -1 END), 0) >= 0
               THEN 1 << t.j ELSE 0 END AS bv
        FROM tk CROSS JOIN range(0, 16) t(j)
        LEFT JOIN h ON tk.doc_id = h.doc_id
        GROUP BY tk.doc_id, t.j),
      s AS (SELECT doc_id, sum(bv)::BIGINT AS sh FROM bits GROUP BY doc_id)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             bit_count(xor(a.sh, b.sh)) AS hamming
      FROM s a JOIN s b ON (a.sh >> 8) = (b.sh >> 8) AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sh, b.sh)) <= 3
      ORDER BY id_a, id_b"""),
    "q50_simhash64_pairs" -> (tokCte + """,
      tkn AS (SELECT doc_id, unnest(toks) AS tok FROM tk),
      hv AS (SELECT doc_id, t.j,
          ('0x' || substr(md5(tok), 1 + 4 * (t.j // 16), 4))::BIGINT AS hw
        FROM tkn CROSS JOIN range(0, 64) t(j)),
      bits AS (SELECT tk.doc_id, t.j,
          CASE WHEN coalesce(sum(CASE WHEN (hv.hw >> (t.j % 16)) & 1 = 1
                 THEN 1 ELSE -1 END), 0) >= 0
               THEN 1 << (t.j % 16) ELSE 0 END AS bv
        FROM tk CROSS JOIN range(0, 64) t(j)
        LEFT JOIN hv ON tk.doc_id = hv.doc_id AND hv.j = t.j
        GROUP BY tk.doc_id, t.j),
      words AS (SELECT doc_id, j // 16 AS w, sum(bv)::BIGINT AS wv
        FROM bits GROUP BY doc_id, j // 16),
      s AS (SELECT doc_id,
          max(CASE WHEN w = 0 THEN wv END) AS w0,
          max(CASE WHEN w = 1 THEN wv END) AS w1,
          max(CASE WHEN w = 2 THEN wv END) AS w2,
          max(CASE WHEN w = 3 THEN wv END) AS w3
        FROM words GROUP BY doc_id),
      bk AS (
        SELECT doc_id, w0, w1, w2, w3, 0 AS band, w0 AS key FROM s
        UNION ALL SELECT doc_id, w0, w1, w2, w3, 1, w1 FROM s
        UNION ALL SELECT doc_id, w0, w1, w2, w3, 2, w2 FROM s
        UNION ALL SELECT doc_id, w0, w1, w2, w3, 3, w3 FROM s),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          min(bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1))
            + bit_count(xor(a.w2, b.w2)) + bit_count(xor(a.w3, b.w3)))
            AS hamming
        FROM bk a JOIN bk b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b, hamming FROM p WHERE hamming <= 3
      ORDER BY id_a, id_b"""),
    "q32_cosine_topk" -> """
      WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
                 FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS nv FROM embeddings),
      sc AS (SELECT q_id, n_id,
          CASE WHEN sqrt(list_inner_product(qv, qv)) > 0.0
                AND sqrt(list_inner_product(nv, nv)) > 0.0
            THEN floor((list_inner_product(qv, nv)
              / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(nv, nv))))
              * 1000000.0 + 0.5) / 1000000.0 END AS cos
        FROM q, c WHERE n_id <> q_id),
      r AS (SELECT q_id, n_id, cos,
          row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
        FROM sc)
      SELECT q_id, rank, n_id, cos FROM r WHERE rank <= 5
      ORDER BY q_id, rank""",
    "q34_toa5_roundtrip" -> """
      SELECT date_trunc('hour', ts) AS hour_ts,
             floor((avg(value)) * 1000000.0 + 0.5) / 1000000.0 AS avg_value,
             count(*)::DOUBLE AS n
      FROM events GROUP BY 1 ORDER BY 1""",
    "q35_fp2_decode" -> """
      WITH r AS (SELECT l_orderkey, l_linenumber,
                        (l_partkey % 65536)::INTEGER AS raw FROM lineitem)
      SELECT l_orderkey, l_linenumber,
             (CASE WHEN (raw & 32768) != 0 THEN -1.0 ELSE 1.0 END)
               * (raw & 8191) * power(10.0, -((raw & 24576) >> 13)) AS fp2_val
      FROM r WHERE raw NOT IN (8191, 40959, 40958)
      ORDER BY l_orderkey, l_linenumber""",
    "q36_tob1_roundtrip" -> """
      SELECT ts AS DATETIME, value::FLOAT::DOUBLE AS value
      FROM (SELECT ts, value FROM events
            ORDER BY ts, event_id LIMIT 20000)
      ORDER BY DATETIME""",
    "q37_multimodal" -> """
      SELECT doc_id, octet_length(text::BLOB)::INT AS payload_bytes,
             (('0x' || substr(md5(text), 1, 2))::INT / 255.0)::FLOAT AS f0,
             (('0x' || substr(md5(text), 3, 2))::INT / 255.0)::FLOAT AS f1,
             (('0x' || substr(md5(text), 5, 2))::INT / 255.0)::FLOAT AS f2,
             (('0x' || substr(md5(text), 7, 2))::INT / 255.0)::FLOAT AS f3
      FROM documents ORDER BY doc_id""",
    "q38_profile_storage" -> """
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
      ORDER BY DATETIME""",
    "q39_asof_join" -> """
      SELECT e.event_id, e.user_id, p.ts AS last_purchase_ts
      FROM events e ASOF LEFT JOIN
        (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
        ON e.user_id = p.user_id AND e.ts >= p.ts
      ORDER BY e.event_id""",
    "q40_rolling_24h" -> """
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
      ORDER BY event_id""",
    "q41_dedup_components" ->
      (shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ") + """,
      mins AS (SELECT doc_id, j,
          min(('0x' || substr(md5((j // 4)::VARCHAR || ':' || shingle),
            1 + 8 * (j % 4), 8))::BIGINT) AS h
        FROM sh CROSS JOIN range(0, 8) t(j) GROUP BY doc_id, j),
      bands AS (SELECT doc_id, j // 2 AS band,
          md5(string_agg(h::VARCHAR, ',' ORDER BY j)) AS key
        FROM mins GROUP BY doc_id, j // 2),
      pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      reach(id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
      SELECT id AS doc_id, min(r) AS component
      FROM reach GROUP BY id ORDER BY doc_id"""),
    // q41's candidate machinery + the verification stage: exact
    // per-pair shingle intersection, jaccard cut at dyadic 0.5,
    // reachability over VERIFIED edges only, keep = canonical min.
    "q94_fuzzy_dedup" ->
      (shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ") + """,
      mins AS (SELECT doc_id, j,
          min(('0x' || substr(md5((j // 4)::VARCHAR || ':' || shingle),
            1 + 8 * (j % 4), 8))::BIGINT) AS h
        FROM sh CROSS JOIN range(0, 8) t(j) GROUP BY doc_id, j),
      bands AS (SELECT doc_id, j // 2 AS band,
          md5(string_agg(h::VARCHAR, ',' ORDER BY j)) AS key
        FROM mins GROUP BY doc_id, j // 2),
      cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      sizes AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh
                GROUP BY doc_id),
      inter AS (SELECT c.id_a, c.id_b, count(*)::BIGINT AS n_shared
        FROM cand c
        JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        GROUP BY c.id_a, c.id_b),
      ver AS (SELECT i.id_a, i.id_b
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE i.n_shared::DOUBLE / (sa.n_sh + sb.n_sh - i.n_shared)
          >= 0.5),
      edges AS (SELECT id_a AS src, id_b AS dst FROM ver
                UNION SELECT id_b, id_a FROM ver),
      reach(id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
      SELECT id AS doc_id, min(r) AS component,
             (id = min(r)) AS keep
      FROM reach GROUP BY id ORDER BY doc_id"""),
    // Global restatement of q95's drained stream: q29's banding,
    // survivor = doc sharing no band key with any lower-id doc
    // (ids are fed to the stream in nondecreasing batches, so
    // first-ingested-wins == smallest-id-wins).
    "q95_streaming_near_dedup" -> (shingleCte + """,
      mins AS (SELECT doc_id, j,
          min(('0x' || substr(md5((j // 4)::VARCHAR || ':' || shingle),
            1 + 8 * (j % 4), 8))::BIGINT) AS h
        FROM sh CROSS JOIN range(0, 8) t(j) GROUP BY doc_id, j),
      bands AS (SELECT doc_id, j // 2 AS band,
          md5(string_agg(h::VARCHAR, ',' ORDER BY j)) AS key
        FROM mins GROUP BY doc_id, j // 2),
      matched AS (SELECT DISTINCT b.doc_id FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
      SELECT DISTINCT doc_id FROM bands
      WHERE doc_id NOT IN (SELECT doc_id FROM matched)
      ORDER BY doc_id"""),
    // q95's audit form: one verdict row per banded doc, dropped
    // docs included.
    "q96_streaming_near_dedup_audit" -> (shingleCte + """,
      mins AS (SELECT doc_id, j,
          min(('0x' || substr(md5((j // 4)::VARCHAR || ':' || shingle),
            1 + 8 * (j % 4), 8))::BIGINT) AS h
        FROM sh CROSS JOIN range(0, 8) t(j) GROUP BY doc_id, j),
      bands AS (SELECT doc_id, j // 2 AS band,
          md5(string_agg(h::VARCHAR, ',' ORDER BY j)) AS key
        FROM mins GROUP BY doc_id, j // 2),
      matched AS (SELECT DISTINCT b.doc_id FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
      SELECT doc_id,
             (doc_id NOT IN (SELECT doc_id FROM matched)) AS kept
      FROM (SELECT DISTINCT doc_id FROM bands)
      ORDER BY doc_id"""),
    // Closed form of the sharded-Bloom check-then-insert stream
    // (BloomDedup scaladoc): set bits after docs 1..i equal the
    // union of ALL processed docs' positions, so doc d is suppressed
    // iff every one of its k=4 positions is covered by some
    // lower-id doc of the same shard.
    "q97_bloom_dedup" -> ("""
      WITH docs2 AS (SELECT doc_id, text FROM documents
                     UNION ALL
                     SELECT doc_id + 10000, text FROM documents
                     WHERE doc_id < 50),
      tk AS (SELECT doc_id,
        list_filter(string_split_regex(
          regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
          x -> x <> '') AS toks
      FROM docs2),
      f AS (SELECT doc_id, md5(array_to_string(toks, ' ')) AS fp
            FROM tk),
      pos AS (SELECT doc_id, fp,
          ('0x' || substr(fp, 1, 2))::BIGINT % 64 AS shard, j,
          ('0x' || substr(md5(j::VARCHAR || ':' || fp), 1, 8))::BIGINT
            % 32768 AS p
        FROM f CROSS JOIN range(0, 4) t(j)),
      covered AS (SELECT d.doc_id, count(DISTINCT d.j) AS ncov
        FROM pos d JOIN pos e
          ON e.shard = d.shard AND e.p = d.p AND e.doc_id < d.doc_id
        GROUP BY d.doc_id)
      SELECT f.fp, f.doc_id FROM f
      WHERE f.doc_id NOT IN
        (SELECT doc_id FROM covered WHERE ncov = 4)
      ORDER BY doc_id"""),
    // Budget fill as the window cumsum the two-pass scan replaces:
    // total order (priority DESC, doc_id), budget = floor(total/2),
    // selected = exclusive offset < budget. Priority is one integer
    // ratio divided in double — bit-identical across engines — and
    // the cumsum is a BIGINT sum in a unique total order, so every
    // column hash-matches exactly.
    "q98_budget_select" -> (tokCte + """,
      d AS (SELECT doc_id, len(toks)::BIGINT AS n_tok,
          CASE WHEN len(toks) > 0
            THEN len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','at','by','be','are'], x)))::DOUBLE
              / len(toks) ELSE 0.0 END AS priority
        FROM tk),
      c AS (SELECT doc_id, n_tok, priority,
          (sum(n_tok) OVER (ORDER BY priority DESC, doc_id))::BIGINT
            AS cum_tokens
        FROM d),
      b AS (SELECT (sum(n_tok) // 2)::BIGINT AS budget FROM d)
      SELECT doc_id, n_tok,
        floor(priority * 1000000.0 + 0.5) / 1000000.0 AS priority,
        cum_tokens, (cum_tokens - n_tok < budget) AS selected
      FROM c, b ORDER BY doc_id"""),
    // Same engineered corpus CASE-for-CASE; C4 line rules (terminal
    // punctuation on the trimmed line, >= 3 words, no "javascript"),
    // sentence proxy = [.!?] marks in the CLEANED text, document
    // flags on the raw text, bad words as whole tokens.
    "q99_c4_filter" -> """
      WITH b AS (SELECT doc_id,
          substr(text, 1, 30) || '.' || chr(10) ||
          substr(text, 31, 30) || '!' || chr(10) ||
          substr(text, 61, 30) || '.' || chr(10) ||
          substr(text, 91, 30) || '?' || chr(10) ||
          substr(text, 121, 30) || '.' AS b5,
          substr(text, 1, 30) AS r1, substr(text, 31, 30) AS r2,
          substr(text, 61, 30) AS r3
        FROM documents),
      corp AS (SELECT doc_id,
          CASE WHEN doc_id % 20 = 1
                 THEN r1 || chr(10) || r2 || chr(10) || r3
               WHEN doc_id % 20 = 2 THEN b5 || chr(10) ||
                 'please enable javascript to view this site.'
               WHEN doc_id % 20 = 3 THEN b5 || chr(10) || 'ok.'
               WHEN doc_id % 20 = 4 THEN b5 || chr(10) ||
                 'lorem ipsum dolor sit amet.'
               WHEN doc_id % 20 = 5 THEN b5 || chr(10) ||
                 'if (x) { return y; }'
               WHEN doc_id % 20 = 6 THEN b5 || chr(10) ||
                 'this page mentions swearword twice.'
               WHEN doc_id % 20 = 7 THEN r1 || '.' || chr(10) ||
                 r2 || '!' || chr(10) || r3 || '.'
               ELSE b5 END AS text
        FROM b),
      k AS (SELECT doc_id, text,
          string_split(text, chr(10)) AS lines,
          list_filter(string_split(text, chr(10)), x ->
            regexp_matches(trim(x), '[.!?"]$')
            AND len(list_filter(string_split_regex(trim(x), '\s+'),
              w -> w <> '')) >= 3
            AND NOT contains(lower(trim(x)), 'javascript')) AS kept
        FROM corp),
      c AS (SELECT doc_id, text, len(lines) AS n_lines,
          len(kept) AS n_kept,
          -- array_to_string([]) is NULL in DuckDB, '' in Spark
          coalesce(array_to_string(kept, chr(10)), '') AS cleaned
        FROM k)
      SELECT doc_id, n_lines, n_kept,
        length(cleaned)
          - length(regexp_replace(cleaned, '[.!?]', '', 'g'))
          AS n_sentences,
        contains(lower(text), 'lorem ipsum') AS has_lorem,
        contains(text, '{') AS has_brace,
        len(list_intersect(list_filter(string_split_regex(lower(text),
          '[^a-z0-9]+'), w -> w <> ''),
          ['swearword', 'slur', 'nsfw'])) > 0 AS has_bad_word,
        (length(cleaned)
            - length(regexp_replace(cleaned, '[.!?]', '', 'g')) >= 5
          AND NOT contains(lower(text), 'lorem ipsum')
          AND NOT contains(text, '{')
          AND NOT len(list_intersect(list_filter(string_split_regex(
            lower(text), '[^a-z0-9]+'), w -> w <> ''),
            ['swearword', 'slur', 'nsfw'])) > 0) AS keep,
        md5(cleaned) AS out_md5
      FROM c ORDER BY doc_id""",
    // q94's verified-component chain; survivor = per-component
    // argmax on (q_tokens DESC, doc_id ASC) via a window rank.
    "q100_fuzzy_best" ->
      (shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ") + """,
      mins AS (SELECT doc_id, j,
          min(('0x' || substr(md5((j // 4)::VARCHAR || ':' || shingle),
            1 + 8 * (j % 4), 8))::BIGINT) AS h
        FROM sh CROSS JOIN range(0, 8) t(j) GROUP BY doc_id, j),
      bands AS (SELECT doc_id, j // 2 AS band,
          md5(string_agg(h::VARCHAR, ',' ORDER BY j)) AS key
        FROM mins GROUP BY doc_id, j // 2),
      cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      sizes AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh
                GROUP BY doc_id),
      inter AS (SELECT c.id_a, c.id_b, count(*)::BIGINT AS n_shared
        FROM cand c
        JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        GROUP BY c.id_a, c.id_b),
      ver AS (SELECT i.id_a, i.id_b
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE i.n_shared::DOUBLE / (sa.n_sh + sb.n_sh - i.n_shared)
          >= 0.5),
      edges AS (SELECT id_a AS src, id_b AS dst FROM ver
                UNION SELECT id_b, id_a FROM ver),
      reach(id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
      comp AS (SELECT id AS doc_id, min(r) AS component
        FROM reach GROUP BY id),
      ql AS (SELECT doc_id, len(toks)::BIGINT AS q_tokens FROM tk),
      j AS (SELECT comp.doc_id, comp.component, ql.q_tokens
        FROM comp JOIN ql USING (doc_id)),
      s AS (SELECT component, doc_id AS survivor FROM
          (SELECT component, doc_id, row_number() OVER
            (PARTITION BY component
             ORDER BY q_tokens DESC, doc_id ASC) AS rn FROM j)
        WHERE rn = 1)
      SELECT j.doc_id, j.component, s.survivor,
        (j.doc_id = s.survivor) AS keep, j.q_tokens
      FROM j JOIN s USING (component) ORDER BY j.doc_id"""),
    // NB classifier re-derived end to end: q89's hashed-feature CTE,
    // per-class bucket counts over the labeled slice, add-one
    // smoothed log-odds over ALL 256 buckets (micro-quantized
    // BIGINT), smoothed log prior, exact integer per-doc scores.
    "q101_nb_classifier" -> (tokCte + """,
      fs AS (SELECT doc_id, unnest(
          flatten(list_transform(range(1, len(toks)+1), i ->
            CASE WHEN i = 1 THEN [toks[i]]
                 ELSE [toks[i], toks[i-1] || ' ' || toks[i]] END))) AS f
        FROM tk),
      fb AS (SELECT doc_id,
          ('0x' || substr(md5('7:' || f), 1, 8))::BIGINT % 256 AS bucket
        FROM fs),
      dc AS (SELECT doc_id, bucket, count(*)::BIGINT AS n
             FROM fb GROUP BY doc_id, bucket),
      lab AS (SELECT doc_id, (lang = 'en') AS y FROM documents
              WHERE doc_id % 10 < 3),
      cc AS (SELECT bucket,
          sum(CASE WHEN y THEN n ELSE 0 END)::BIGINT AS c_pos,
          sum(CASE WHEN NOT y THEN n ELSE 0 END)::BIGINT AS c_neg
        FROM dc JOIN lab USING (doc_id) GROUP BY bucket),
      tot AS (SELECT
          (SELECT coalesce(sum(c_pos), 0) FROM cc)::DOUBLE AS tp,
          (SELECT coalesce(sum(c_neg), 0) FROM cc)::DOUBLE AS tn),
      w AS (SELECT g.bucket,
          CAST(floor((ln((coalesce(cc.c_pos, 0) + 1.0)
                / (tot.tp + 256.0))
              - ln((coalesce(cc.c_neg, 0) + 1.0) / (tot.tn + 256.0)))
            * 1000000.0 + 0.5) AS BIGINT) AS w_micro
        FROM range(0, 256) g(bucket) CROSS JOIN tot
        LEFT JOIN cc ON g.bucket = cc.bucket),
      pri AS (SELECT CAST(floor(ln(
            (sum(CASE WHEN y THEN 1 ELSE 0 END) + 1.0)
            / (sum(CASE WHEN NOT y THEN 1 ELSE 0 END) + 1.0))
          * 1000000.0 + 0.5) AS BIGINT) AS bias FROM lab),
      perdoc AS (SELECT dc.doc_id, sum(dc.n)::BIGINT AS n_feat,
          sum(dc.n * w.w_micro)::BIGINT AS ll
        FROM dc JOIN w USING (bucket) GROUP BY dc.doc_id)
      SELECT d.doc_id, coalesce(n_feat, 0)::BIGINT AS n_feat,
        (coalesce(ll, 0) + pri.bias)::BIGINT AS score_micro,
        (coalesce(ll, 0) + pri.bias) > 0 AS predicted
      FROM documents d LEFT JOIN perdoc ON d.doc_id = perdoc.doc_id
      CROSS JOIN pri ORDER BY d.doc_id"""),
    // q98's cumsum restated per source: window partitioned by the
    // stratum, per-source floor-half budgets, same greedy flag.
    "q102_token_mixing" -> (tokCte + """,
      d AS (SELECT tk.doc_id, d0.source, len(toks)::BIGINT AS n_tok,
          CASE WHEN len(toks) > 0
            THEN len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','at','by','be','are'], x)))::DOUBLE
              / len(toks) ELSE 0.0 END AS priority
        FROM tk JOIN documents d0 ON tk.doc_id = d0.doc_id),
      c AS (SELECT doc_id, source, n_tok, priority,
          (sum(n_tok) OVER (PARTITION BY source
            ORDER BY priority DESC, doc_id))::BIGINT AS cum_tokens
        FROM d),
      b AS (SELECT source, (sum(n_tok) // 2)::BIGINT AS budget
            FROM d GROUP BY source)
      SELECT c.doc_id, c.source, c.n_tok,
        floor(c.priority * 1000000.0 + 0.5) / 1000000.0 AS priority,
        c.cum_tokens, b.budget,
        (c.cum_tokens - c.n_tok < b.budget) AS selected
      FROM c JOIN b USING (source) ORDER BY c.doc_id"""),
    // Chunk grid re-derived: one window when n <= chunk, else
    // ceil((n-chunk)/stride)+1 (windows stop at the first that
    // reaches the doc end); 1-based INCLUSIVE list_slice bounds ==
    // Spark's (start, length) slice.
    "q103_chunking" -> (tokCte + """,
      n AS (SELECT doc_id, toks, len(toks) AS n FROM tk
            WHERE len(toks) > 0),
      ch AS (SELECT doc_id, toks,
          unnest(range(0, CASE WHEN n <= 64 THEN 1
            ELSE (n - 64 + 47) // 48 + 1 END)) AS chunk_idx
        FROM n)
      SELECT doc_id, chunk_idx::INT AS chunk_idx,
        len(list_slice(toks, chunk_idx * 48 + 1,
          chunk_idx * 48 + 64))::INT AS n_tokens,
        md5(array_to_string(list_slice(toks, chunk_idx * 48 + 1,
          chunk_idx * 48 + 64), ' ')) AS chunk_md5
      FROM ch ORDER BY doc_id, chunk_idx"""),
    // Both corpora's band keys re-derived (q41's minhash CTE over
    // the widened corpus), reference reduced to distinct keys, and
    // the semi-join membership restated as an IN.
    "q104_dedup_against" -> """
      WITH corp AS (
        SELECT doc_id, text, (doc_id % 2 = 0) AS is_ref FROM documents
        UNION ALL
        SELECT doc_id + 10000, text, false FROM documents
        WHERE doc_id % 2 = 0 AND doc_id < 200),
      tk AS (SELECT doc_id, is_ref,
          list_filter(string_split_regex(
            regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
            x -> x <> '') AS toks
        FROM corp),
      -- len(toks) = 0 is EXCLUDED: Spark's minhashBandKeys drops
      -- tokenless docs (no signature row), so they never band and
      -- can never flag. The shared shingleCte's ['']-fallback would
      -- give them a common key here.
      sh AS (SELECT doc_id, is_ref, unnest(list_distinct(
          CASE WHEN len(toks) >= 3
            THEN list_transform(range(1, len(toks) - 1),
              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
            ELSE [array_to_string(toks, ' ')] END)) AS shingle
        FROM tk WHERE len(toks) > 0),
      mins AS (SELECT doc_id, is_ref, j,
          min(('0x' || substr(md5((j // 4)::VARCHAR || ':' || shingle),
            1 + 8 * (j % 4), 8))::BIGINT) AS h
        FROM sh CROSS JOIN range(0, 8) t(j)
        GROUP BY doc_id, is_ref, j),
      bands AS (SELECT doc_id, is_ref, j // 2 AS band,
          md5(string_agg(h::VARCHAR, ',' ORDER BY j)) AS key
        FROM mins GROUP BY doc_id, is_ref, j // 2),
      refk AS (SELECT DISTINCT band, key FROM bands WHERE is_ref),
      hit AS (SELECT DISTINCT b.doc_id FROM bands b
        JOIN refk USING (band, key) WHERE NOT b.is_ref)
      SELECT doc_id,
        (doc_id IN (SELECT doc_id FROM hit)) AS dup_against_ref
      FROM corp WHERE NOT is_ref ORDER BY doc_id""",
    // CUBE rollup with the GROUPING()-gated (all) sentinel fold (a
    // genuinely-NULL lang — injected for doc_id % 97 == 0 — keeps
    // its own cell); token counts from the shared tokenizer CTE.
    "q105_corpus_report" -> (tokCte + """,
      d AS (SELECT d0.source,
          CASE WHEN d0.doc_id % 97 = 0 THEN NULL ELSE d0.lang END
            AS lang,
          len(tk.toks)::BIGINT AS n_tok,
          length(d0.text)::BIGINT AS n_chars
        FROM documents d0 JOIN tk ON d0.doc_id = tk.doc_id)
      SELECT CASE WHEN GROUPING(source) = 1 THEN '(all)'
                  ELSE source END AS source,
             CASE WHEN GROUPING(lang) = 1 THEN '(all)'
                  ELSE lang END AS lang,
             count(*)::BIGINT AS n_docs,
             sum(n_tok)::BIGINT AS n_tokens,
             sum(n_chars)::BIGINT AS n_chars
      FROM d GROUP BY CUBE (source, lang)
      ORDER BY 1, 2"""),
    // The BPE merge LOOP is not SQL-expressible, so the oracle checks
    // the invariant restatement the Spark side emits: reconstruction
    // (subword concatenation == token concatenation, derived here
    // from `text` alone), count bounds (TRUE literal — a kernel that
    // emitted out-of-bounds counts hash-mismatches on bounds_ok),
    // and the learned merge-table size (the 50 requested — capped
    // below vocabulary exhaustion so the count is SF-independent).
    "q106_bpe_tokenize" -> (tokCte + """
      SELECT doc_id,
             len(toks) AS n_tok,
             length(array_to_string(toks, '')) AS n_chars,
             TRUE AS bounds_ok,
             md5(array_to_string(toks, '')) AS recon_md5,
             50 AS n_merges
      FROM tk ORDER BY doc_id"""),
    // q94's chain over the copy-augmented corpus with the band-bucket
    // frequency filter (<= 4) between banding and pairing: the six
    // identical-signature group members share every bucket, so all
    // their buckets drop and the group comes back singleton.
    "q107_banded_cap" -> """
      WITH RECURSIVE corp AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id
            + (SELECT max(doc_id) + 1 FROM documents) * (r + 1)
            AS doc_id, text
        FROM documents CROSS JOIN range(0, 5) t(r) WHERE doc_id < 20),
      tk AS (SELECT doc_id,
          list_filter(string_split_regex(
            regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
            x -> x <> '') AS toks
        FROM corp),
      sh AS (SELECT doc_id, unnest(list_distinct(
          CASE WHEN len(toks) >= 3
            THEN list_transform(range(1, len(toks) - 1),
              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
            ELSE [array_to_string(toks, ' ')] END)) AS shingle
        FROM tk),
      mins AS (SELECT doc_id, j,
          min(('0x' || substr(md5((j // 4)::VARCHAR || ':' || shingle),
            1 + 8 * (j % 4), 8))::BIGINT) AS h
        FROM sh CROSS JOIN range(0, 8) t(j) GROUP BY doc_id, j),
      bands AS (SELECT doc_id, j // 2 AS band,
          md5(string_agg(h::VARCHAR, ',' ORDER BY j)) AS key
        FROM mins GROUP BY doc_id, j // 2),
      okb AS (SELECT band, key FROM bands
        GROUP BY band, key HAVING count(*) <= 4),
      bok AS (SELECT b.doc_id, b.band, b.key
        FROM bands b JOIN okb USING (band, key)),
      cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bok a JOIN bok b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      sizes AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh
                GROUP BY doc_id),
      inter AS (SELECT c.id_a, c.id_b, count(*)::BIGINT AS n_shared
        FROM cand c
        JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        GROUP BY c.id_a, c.id_b),
      ver AS (SELECT i.id_a, i.id_b
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE i.n_shared::DOUBLE / (sa.n_sh + sb.n_sh - i.n_shared)
          >= 0.5),
      edges AS (SELECT id_a AS src, id_b AS dst FROM ver
                UNION SELECT id_b, id_a FROM ver),
      reach(id, r) AS (
        SELECT doc_id, doc_id FROM corp
        UNION
        SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
      SELECT id AS doc_id, min(r) AS component,
             (id = min(r)) AS keep
      FROM reach GROUP BY id ORDER BY doc_id""",
    // Full PQ replay: quantize to the 2^20 micro-unit grid, seed the
    // 4x4 codebook from the 4 smallest ids, one integer Lloyd round
    // ((2s+n)//(2n), empty codes keep their centroid), argmin encode
    // (ties to the smaller code), then ADC = per-subspace lookup sum.
    "q108_pq_ann" -> """
      WITH e AS (SELECT vec_id AS id,
          list_transform(embedding::DOUBLE[],
            x -> CAST(floor(x * 1048576.0 + 0.5) AS BIGINT) + 2097152)
            AS qv
        FROM embeddings),
      subs AS (SELECT unnest(range(0, 4)) AS sub),
      seed AS (SELECT row_number() OVER (ORDER BY id) - 1 AS j, qv
               FROM e ORDER BY id LIMIT 4),
      cb0 AS (SELECT sub, j,
          list_slice(qv, sub * 16 + 1, sub * 16 + 16) AS cv
        FROM seed CROSS JOIN subs),
      sv AS (SELECT id, sub,
          list_slice(qv, sub * 16 + 1, sub * 16 + 16) AS ssv
        FROM e CROSS JOIN subs),
      a0 AS (SELECT id, sub, j, ssv, row_number() OVER (
            PARTITION BY id, sub ORDER BY
            list_aggregate(list_transform(range(1, 17),
              i -> abs(ssv[i] - cv[i])), 'sum') ASC, j ASC) AS r
        FROM sv JOIN cb0 USING (sub)),
      stats AS (SELECT sub, j AS cl, d.i AS dim,
          sum(ssv[d.i])::BIGINT AS s, count(*)::BIGINT AS n
        FROM (SELECT * FROM a0 WHERE r = 1) a
        CROSS JOIN range(1, 17) d(i)
        GROUP BY sub, j, d.i),
      cb1 AS (SELECT c0.sub, c0.j,
          coalesce(m.nv, c0.cv) AS cv
        FROM cb0 c0 LEFT JOIN (
          SELECT sub, cl, list((2 * s + n) // (2 * n) ORDER BY dim) AS nv
          FROM stats GROUP BY sub, cl) m
        ON c0.sub = m.sub AND c0.j = m.cl),
      enc AS (SELECT id, sub, j AS code FROM (
          SELECT sv.id, sv.sub, cb1.j, row_number() OVER (
              PARTITION BY sv.id, sv.sub ORDER BY
              list_aggregate(list_transform(range(1, 17),
                i -> abs(ssv[i] - cv[i])), 'sum') ASC, j ASC) AS r
          FROM sv JOIN cb1 USING (sub)) WHERE r = 1),
      q AS (SELECT id AS q_id, sub, ssv AS qsv FROM sv WHERE id < 5),
      d AS (SELECT q.q_id, enc.id AS n_id,
          sum(list_aggregate(list_transform(range(1, 17),
            i -> abs(qsv[i] - cv[i])), 'sum'))::BIGINT AS adist
        FROM q JOIN enc ON q.sub = enc.sub AND q.q_id <> enc.id
        JOIN cb1 ON cb1.sub = enc.sub AND cb1.j = enc.code
        GROUP BY q.q_id, enc.id),
      rk AS (SELECT q_id, n_id, adist, row_number() OVER (
            PARTITION BY q_id ORDER BY adist ASC, n_id ASC) AS rank
        FROM d)
      SELECT q_id, rank::INT AS rank, n_id, adist
      FROM rk WHERE rank <= 5 ORDER BY q_id, rank""",
    // q108's full PQ replay, shortlist widened to 10, then the exact
    // integer-L1 rerank of the shortlist pairs down to top-5.
    "q115_adc_rerank" -> """
      WITH e AS (SELECT vec_id AS id,
          list_transform(embedding::DOUBLE[],
            x -> CAST(floor(x * 1048576.0 + 0.5) AS BIGINT) + 2097152)
            AS qv
        FROM embeddings),
      subs AS (SELECT unnest(range(0, 4)) AS sub),
      seed AS (SELECT row_number() OVER (ORDER BY id) - 1 AS j, qv
               FROM e ORDER BY id LIMIT 4),
      cb0 AS (SELECT sub, j,
          list_slice(qv, sub * 16 + 1, sub * 16 + 16) AS cv
        FROM seed CROSS JOIN subs),
      sv AS (SELECT id, sub,
          list_slice(qv, sub * 16 + 1, sub * 16 + 16) AS ssv
        FROM e CROSS JOIN subs),
      a0 AS (SELECT id, sub, j, ssv, row_number() OVER (
            PARTITION BY id, sub ORDER BY
            list_aggregate(list_transform(range(1, 17),
              i -> abs(ssv[i] - cv[i])), 'sum') ASC, j ASC) AS r
        FROM sv JOIN cb0 USING (sub)),
      stats AS (SELECT sub, j AS cl, d.i AS dim,
          sum(ssv[d.i])::BIGINT AS s, count(*)::BIGINT AS n
        FROM (SELECT * FROM a0 WHERE r = 1) a
        CROSS JOIN range(1, 17) d(i)
        GROUP BY sub, j, d.i),
      cb1 AS (SELECT c0.sub, c0.j,
          coalesce(m.nv, c0.cv) AS cv
        FROM cb0 c0 LEFT JOIN (
          SELECT sub, cl, list((2 * s + n) // (2 * n) ORDER BY dim) AS nv
          FROM stats GROUP BY sub, cl) m
        ON c0.sub = m.sub AND c0.j = m.cl),
      enc AS (SELECT id, sub, j AS code FROM (
          SELECT sv.id, sv.sub, cb1.j, row_number() OVER (
              PARTITION BY sv.id, sv.sub ORDER BY
              list_aggregate(list_transform(range(1, 17),
                i -> abs(ssv[i] - cv[i])), 'sum') ASC, j ASC) AS r
          FROM sv JOIN cb1 USING (sub)) WHERE r = 1),
      q AS (SELECT id AS q_id, sub, ssv AS qsv FROM sv WHERE id < 5),
      d AS (SELECT q.q_id, enc.id AS n_id,
          sum(list_aggregate(list_transform(range(1, 17),
            i -> abs(qsv[i] - cv[i])), 'sum'))::BIGINT AS adist
        FROM q JOIN enc ON q.sub = enc.sub AND q.q_id <> enc.id
        JOIN cb1 ON cb1.sub = enc.sub AND cb1.j = enc.code
        GROUP BY q.q_id, enc.id),
      rk AS (SELECT q_id, n_id, adist, row_number() OVER (
            PARTITION BY q_id ORDER BY adist ASC, n_id ASC) AS rank
        FROM d),
      sl AS (SELECT q_id, n_id FROM rk WHERE rank <= 10),
      ex AS (SELECT sl.q_id, sl.n_id,
          list_aggregate(list_transform(range(1, 65),
            i -> abs(qa.qv[i] - qb.qv[i])), 'sum')::BIGINT AS dist
        FROM sl JOIN e qa ON qa.id = sl.q_id
        JOIN e qb ON qb.id = sl.n_id),
      rr AS (SELECT q_id, n_id, dist, row_number() OVER (
            PARTITION BY q_id ORDER BY dist ASC, n_id ASC) AS rank
        FROM ex)
      SELECT q_id, rank::INT AS rank, n_id, dist
      FROM rr WHERE rank <= 5 ORDER BY q_id, rank""",
    // q109's IVFADC chain + a flat-ADC ranking over the same seed
    // codebook as ground truth, then the per-query intersection and
    // the exact micro-unit recall division.
    "q116_ann_recall" -> """
      WITH e AS (SELECT vec_id AS id,
          list_transform(embedding::DOUBLE[],
            x -> CAST(floor(x * 1048576.0 + 0.5) AS BIGINT) + 2097152)
            AS qv
        FROM embeddings),
      subs AS (SELECT unnest(range(0, 4)) AS sub),
      seed AS (SELECT row_number() OVER (ORDER BY id) - 1 AS j, qv
               FROM e ORDER BY id LIMIT 8),
      cb AS (SELECT sub, j,
          list_slice(qv, sub * 16 + 1, sub * 16 + 16) AS cv
        FROM seed CROSS JOIN subs),
      cent AS (SELECT row_number() OVER (ORDER BY id) - 1 AS c_idx,
          qv AS cqv
        FROM e WHERE id % greatest(1,
          (SELECT count(*) FROM embeddings) // 20) = 0),
      lst AS (SELECT id, c_idx, row_number() OVER (PARTITION BY id
            ORDER BY list_aggregate(list_transform(range(1, 65),
              i -> abs(qv[i] - cqv[i])), 'sum') ASC, c_idx ASC) AS r
        FROM e CROSS JOIN cent),
      lists AS (SELECT id AS n_id, c_idx AS list_id FROM lst
                WHERE r = 1),
      sv AS (SELECT id, sub,
          list_slice(qv, sub * 16 + 1, sub * 16 + 16) AS ssv
        FROM e CROSS JOIN subs),
      enc AS (SELECT id, sub, j AS code FROM (
          SELECT sv.id, sv.sub, cb.j, row_number() OVER (
              PARTITION BY sv.id, sv.sub ORDER BY
              list_aggregate(list_transform(range(1, 17),
                i -> abs(ssv[i] - cv[i])), 'sum') ASC, j ASC) AS r
          FROM sv JOIN cb USING (sub)) WHERE r = 1),
      probe AS (SELECT id AS q_id, c_idx AS list_id FROM lst
                WHERE id < 5 AND r <= 2),
      cand AS (SELECT p.q_id, l.n_id FROM probe p
        JOIN lists l USING (list_id) WHERE p.q_id <> l.n_id),
      q AS (SELECT id AS q_id, sub, ssv AS qsv FROM sv WHERE id < 5),
      d AS (SELECT c.q_id, c.n_id,
          sum(list_aggregate(list_transform(range(1, 17),
            i -> abs(qsv[i] - cv[i])), 'sum'))::BIGINT AS adist
        FROM cand c
        JOIN q ON q.q_id = c.q_id
        JOIN enc ON enc.id = c.n_id AND enc.sub = q.sub
        JOIN cb ON cb.sub = enc.sub AND cb.j = enc.code
        GROUP BY c.q_id, c.n_id),
      rk AS (SELECT q_id, n_id, row_number() OVER (
            PARTITION BY q_id ORDER BY adist ASC, n_id ASC) AS rank
        FROM d),
      dflat AS (SELECT q.q_id, enc.id AS n_id,
          sum(list_aggregate(list_transform(range(1, 17),
            i -> abs(qsv[i] - cv[i])), 'sum'))::BIGINT AS adist
        FROM q JOIN enc ON q.sub = enc.sub AND q.q_id <> enc.id
        JOIN cb ON cb.sub = enc.sub AND cb.j = enc.code
        GROUP BY q.q_id, enc.id),
      rkflat AS (SELECT q_id, n_id, row_number() OVER (
            PARTITION BY q_id ORDER BY adist ASC, n_id ASC) AS rank
        FROM dflat),
      tr AS (SELECT q_id, n_id FROM rkflat WHERE rank <= 5),
      ap AS (SELECT q_id, n_id FROM rk WHERE rank <= 5),
      h AS (SELECT tr.q_id,
          sum(CASE WHEN ap.n_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
            AS n_hit,
          count(*)::BIGINT AS n_truth
        FROM tr LEFT JOIN ap
          ON tr.q_id = ap.q_id AND tr.n_id = ap.n_id
        GROUP BY tr.q_id)
      SELECT q_id, n_hit, n_truth,
        ((n_hit * 1000000) // n_truth)::BIGINT AS recall_micro
      FROM h ORDER BY q_id""",
    // IVFADC replay: coarse centroids = the q43 id-modulo sample
    // (0-based index in id order = Spark's list id), full-vector
    // integer-L1 assignment and probing, iters=0 seed codebook (the
    // 8 smallest ids), ADC restricted to each query's 2 probed lists.
    "q109_ivfpq_ann" -> """
      WITH e AS (SELECT vec_id AS id,
          list_transform(embedding::DOUBLE[],
            x -> CAST(floor(x * 1048576.0 + 0.5) AS BIGINT) + 2097152)
            AS qv
        FROM embeddings),
      subs AS (SELECT unnest(range(0, 4)) AS sub),
      seed AS (SELECT row_number() OVER (ORDER BY id) - 1 AS j, qv
               FROM e ORDER BY id LIMIT 8),
      cb AS (SELECT sub, j,
          list_slice(qv, sub * 16 + 1, sub * 16 + 16) AS cv
        FROM seed CROSS JOIN subs),
      cent AS (SELECT row_number() OVER (ORDER BY id) - 1 AS c_idx,
          qv AS cqv
        FROM e WHERE id % greatest(1,
          (SELECT count(*) FROM embeddings) // 20) = 0),
      lst AS (SELECT id, c_idx, row_number() OVER (PARTITION BY id
            ORDER BY list_aggregate(list_transform(range(1, 65),
              i -> abs(qv[i] - cqv[i])), 'sum') ASC, c_idx ASC) AS r
        FROM e CROSS JOIN cent),
      lists AS (SELECT id AS n_id, c_idx AS list_id FROM lst
                WHERE r = 1),
      sv AS (SELECT id, sub,
          list_slice(qv, sub * 16 + 1, sub * 16 + 16) AS ssv
        FROM e CROSS JOIN subs),
      enc AS (SELECT id, sub, j AS code FROM (
          SELECT sv.id, sv.sub, cb.j, row_number() OVER (
              PARTITION BY sv.id, sv.sub ORDER BY
              list_aggregate(list_transform(range(1, 17),
                i -> abs(ssv[i] - cv[i])), 'sum') ASC, j ASC) AS r
          FROM sv JOIN cb USING (sub)) WHERE r = 1),
      probe AS (SELECT id AS q_id, c_idx AS list_id FROM lst
                WHERE id < 5 AND r <= 2),
      cand AS (SELECT p.q_id, l.n_id FROM probe p
        JOIN lists l USING (list_id) WHERE p.q_id <> l.n_id),
      q AS (SELECT id AS q_id, sub, ssv AS qsv FROM sv WHERE id < 5),
      d AS (SELECT c.q_id, c.n_id,
          sum(list_aggregate(list_transform(range(1, 17),
            i -> abs(qsv[i] - cv[i])), 'sum'))::BIGINT AS adist
        FROM cand c
        JOIN q ON q.q_id = c.q_id
        JOIN enc ON enc.id = c.n_id AND enc.sub = q.sub
        JOIN cb ON cb.sub = enc.sub AND cb.j = enc.code
        GROUP BY c.q_id, c.n_id),
      rk AS (SELECT q_id, n_id, adist, row_number() OVER (
            PARTITION BY q_id ORDER BY adist ASC, n_id ASC) AS rank
        FROM d)
      SELECT q_id, rank::INT AS rank, n_id, adist
      FROM rk WHERE rank <= 5 ORDER BY q_id, rank""",
    // SQ8 replay: per-dimension bounds in one aggregation, half-up
    // affine codes, branchless decode, all-pairs integer-L1 ranking.
    "q118_sq_ann" -> """
      WITH e AS (SELECT vec_id AS id,
          list_transform(embedding::DOUBLE[],
            x -> CAST(floor(x * 1048576.0 + 0.5) AS BIGINT) + 2097152)
            AS qv
        FROM embeddings),
      dims AS (SELECT unnest(range(1, 65)) AS i),
      st AS (SELECT i, min(qv[i]) AS mn, max(qv[i]) AS mx
        FROM e CROSS JOIN dims GROUP BY i),
      dec AS (SELECT id, i,
          mn + (2 * (CASE WHEN mx = mn THEN 0
            ELSE ((qv[i] - mn) * 510 + (mx - mn)) // (2 * (mx - mn))
            END) * (mx - mn) + 255) // 510 AS rv
        FROM e CROSS JOIN dims JOIN st USING (i)),
      q AS (SELECT id AS q_id, i, qv[i] AS qvi
        FROM e CROSS JOIN dims WHERE id < 5),
      d AS (SELECT q_id, dec.id AS n_id,
          sum(abs(qvi - rv))::BIGINT AS adist
        FROM q JOIN dec ON q.i = dec.i AND q_id <> dec.id
        GROUP BY q_id, dec.id),
      rk AS (SELECT q_id, n_id, adist, row_number() OVER (
            PARTITION BY q_id ORDER BY adist ASC, n_id ASC) AS rank
        FROM d)
      SELECT q_id, rank::INT AS rank, n_id, adist
      FROM rk WHERE rank <= 5 ORDER BY q_id, rank""",
    // IVF,SQ8 replay: q109's coarse assignment + probing over q118's
    // SQ decode, candidate-restricted ranking.
    "q119_ivfsq_ann" -> """
      WITH e AS (SELECT vec_id AS id,
          list_transform(embedding::DOUBLE[],
            x -> CAST(floor(x * 1048576.0 + 0.5) AS BIGINT) + 2097152)
            AS qv
        FROM embeddings),
      dims AS (SELECT unnest(range(1, 65)) AS i),
      st AS (SELECT i, min(qv[i]) AS mn, max(qv[i]) AS mx
        FROM e CROSS JOIN dims GROUP BY i),
      dec AS (SELECT id, i,
          mn + (2 * (CASE WHEN mx = mn THEN 0
            ELSE ((qv[i] - mn) * 510 + (mx - mn)) // (2 * (mx - mn))
            END) * (mx - mn) + 255) // 510 AS rv
        FROM e CROSS JOIN dims JOIN st USING (i)),
      cent AS (SELECT row_number() OVER (ORDER BY id) - 1 AS c_idx,
          qv AS cqv
        FROM e WHERE id % greatest(1,
          (SELECT count(*) FROM embeddings) // 20) = 0),
      lst AS (SELECT id, c_idx, row_number() OVER (PARTITION BY id
            ORDER BY list_aggregate(list_transform(range(1, 65),
              i -> abs(qv[i] - cqv[i])), 'sum') ASC, c_idx ASC) AS r
        FROM e CROSS JOIN cent),
      lists AS (SELECT id AS n_id, c_idx AS list_id FROM lst
                WHERE r = 1),
      probe AS (SELECT id AS q_id, c_idx AS list_id FROM lst
                WHERE id < 5 AND r <= 2),
      cand AS (SELECT p.q_id, l.n_id FROM probe p
        JOIN lists l USING (list_id) WHERE p.q_id <> l.n_id),
      q AS (SELECT id AS q_id, i, qv[i] AS qvi
        FROM e CROSS JOIN dims WHERE id < 5),
      d AS (SELECT c.q_id, c.n_id,
          sum(abs(qvi - rv))::BIGINT AS adist
        FROM cand c
        JOIN q ON q.q_id = c.q_id
        JOIN dec ON dec.id = c.n_id AND dec.i = q.i
        GROUP BY c.q_id, c.n_id),
      rk AS (SELECT q_id, n_id, adist, row_number() OVER (
            PARTITION BY q_id ORDER BY adist ASC, n_id ASC) AS rank
        FROM d)
      SELECT q_id, rank::INT AS rank, n_id, adist
      FROM rk WHERE rank <= 5 ORDER BY q_id, rank""",
    // q119's IVF,SQ8 replay with the coarse seed swapped for the
    // deterministic farthest-point traversal: a recursive CTE carries
    // the chosen-seed list, each step appending the corpus row whose
    // min-L1 to the chosen set is largest (ties to smaller id),
    // stopping at numCoarse = 12 or when the farthest remaining
    // point is at distance 0. c_idx = selection order.
    "q137_ivfsq_fps" -> """
      WITH RECURSIVE e AS (SELECT vec_id AS id,
          list_transform(embedding::DOUBLE[],
            x -> CAST(floor(x * 1048576.0 + 0.5) AS BIGINT) + 2097152)
            AS qv
        FROM embeddings),
      dims AS (SELECT unnest(range(1, 65)) AS i),
      st AS (SELECT i, min(qv[i]) AS mn, max(qv[i]) AS mx
        FROM e CROSS JOIN dims GROUP BY i),
      dec AS (SELECT id, i,
          mn + (2 * (CASE WHEN mx = mn THEN 0
            ELSE ((qv[i] - mn) * 510 + (mx - mn)) // (2 * (mx - mn))
            END) * (mx - mn) + 255) // 510 AS rv
        FROM e CROSS JOIN dims JOIN st USING (i)),
      fps(it, chosen) AS (
        SELECT 0, [(SELECT qv FROM e ORDER BY id LIMIT 1)]
        UNION ALL
        SELECT it + 1, list_append(chosen, nxt)
        FROM fps, LATERAL (
          SELECT qv AS nxt, d FROM (
            SELECT e.id, any_value(e.qv) AS qv,
              min(list_aggregate(list_transform(range(1, 65),
                i -> abs(e.qv[i] - c.cv[i])), 'sum')) AS d
            FROM e, (SELECT unnest(chosen) AS cv) c
            GROUP BY e.id
          ) ORDER BY d DESC, id ASC LIMIT 1
        ) WHERE it < 11 AND d > 0
      ),
      lastf AS (SELECT chosen FROM fps ORDER BY it DESC LIMIT 1),
      cent AS (SELECT t.i AS c_idx, chosen[t.i + 1] AS cqv
        FROM lastf CROSS JOIN range(0, 12) t(i)
        WHERE t.i < len(chosen)),
      lst AS (SELECT id, c_idx, row_number() OVER (PARTITION BY id
            ORDER BY list_aggregate(list_transform(range(1, 65),
              i -> abs(qv[i] - cqv[i])), 'sum') ASC, c_idx ASC) AS r
        FROM e CROSS JOIN cent),
      lists AS (SELECT id AS n_id, c_idx AS list_id FROM lst
                WHERE r = 1),
      probe AS (SELECT id AS q_id, c_idx AS list_id FROM lst
                WHERE id < 5 AND r <= 2),
      cand AS (SELECT p.q_id, l.n_id FROM probe p
        JOIN lists l USING (list_id) WHERE p.q_id <> l.n_id),
      q AS (SELECT id AS q_id, i, qv[i] AS qvi
        FROM e CROSS JOIN dims WHERE id < 5),
      d AS (SELECT c.q_id, c.n_id,
          sum(abs(qvi - rv))::BIGINT AS adist
        FROM cand c
        JOIN q ON q.q_id = c.q_id
        JOIN dec ON dec.id = c.n_id AND dec.i = q.i
        GROUP BY c.q_id, c.n_id),
      rk AS (SELECT q_id, n_id, adist, row_number() OVER (
            PARTITION BY q_id ORDER BY adist ASC, n_id ASC) AS rank
        FROM d)
      SELECT q_id, rank::INT AS rank, n_id, adist
      FROM rk WHERE rank <= 5 ORDER BY q_id, rank""",
    // Residual IVFADC replay: q109's coarse assignment, then
    // residual = qv - assignedCentroid + 2^22 (all-positive
    // re-offset), seed codebook from the 8 smallest ids' residuals,
    // ONE Lloyd round in the residual domain ((2s+n)//(2n)), argmin
    // encode, and per-probed-list query residual lookup tables.
    "q112_ivfpq_residual" -> """
      WITH e AS (SELECT vec_id AS id,
          list_transform(embedding::DOUBLE[],
            x -> CAST(floor(x * 1048576.0 + 0.5) AS BIGINT) + 2097152)
            AS qv
        FROM embeddings),
      subs AS (SELECT unnest(range(0, 4)) AS sub),
      cent AS (SELECT row_number() OVER (ORDER BY id) - 1 AS c_idx,
          qv AS cqv
        FROM e WHERE id % greatest(1,
          (SELECT count(*) FROM embeddings) // 20) = 0),
      lst AS (SELECT id, c_idx, row_number() OVER (PARTITION BY id
            ORDER BY list_aggregate(list_transform(range(1, 65),
              i -> abs(qv[i] - cqv[i])), 'sum') ASC, c_idx ASC) AS r
        FROM e CROSS JOIN cent),
      asg AS (SELECT id, c_idx AS list_id FROM lst WHERE r = 1),
      res AS (SELECT e.id, a.list_id,
          list_transform(range(1, 65),
            i -> e.qv[i] - c.cqv[i] + 4194304) AS rv
        FROM e JOIN asg a ON e.id = a.id
        JOIN cent c ON c.c_idx = a.list_id),
      seed AS (SELECT row_number() OVER (ORDER BY id) - 1 AS j, rv
               FROM res ORDER BY id LIMIT 8),
      cb0 AS (SELECT sub, j,
          list_slice(rv, sub * 16 + 1, sub * 16 + 16) AS cv
        FROM seed CROSS JOIN subs),
      sv AS (SELECT id, sub,
          list_slice(rv, sub * 16 + 1, sub * 16 + 16) AS ssv
        FROM res CROSS JOIN subs),
      a0 AS (SELECT id, sub, j, ssv, row_number() OVER (
            PARTITION BY id, sub ORDER BY
            list_aggregate(list_transform(range(1, 17),
              i -> abs(ssv[i] - cv[i])), 'sum') ASC, j ASC) AS r
        FROM sv JOIN cb0 USING (sub)),
      stats AS (SELECT sub, j AS cl, d.i AS dim,
          sum(ssv[d.i])::BIGINT AS s, count(*)::BIGINT AS n
        FROM (SELECT * FROM a0 WHERE r = 1) a
        CROSS JOIN range(1, 17) d(i)
        GROUP BY sub, j, d.i),
      cb1 AS (SELECT c0.sub, c0.j,
          coalesce(m.nv, c0.cv) AS cv
        FROM cb0 c0 LEFT JOIN (
          SELECT sub, cl, list((2 * s + n) // (2 * n) ORDER BY dim) AS nv
          FROM stats GROUP BY sub, cl) m
        ON c0.sub = m.sub AND c0.j = m.cl),
      enc AS (SELECT id, sub, j AS code FROM (
          SELECT sv.id, sv.sub, cb1.j, row_number() OVER (
              PARTITION BY sv.id, sv.sub ORDER BY
              list_aggregate(list_transform(range(1, 17),
                i -> abs(ssv[i] - cv[i])), 'sum') ASC, j ASC) AS r
          FROM sv JOIN cb1 USING (sub)) WHERE r = 1),
      probe AS (SELECT id AS q_id, c_idx AS list_id FROM lst
                WHERE id < 5 AND r <= 2),
      qres AS (SELECT p.q_id, p.list_id,
          list_transform(range(1, 65),
            i -> e.qv[i] - c.cqv[i] + 4194304) AS qrv
        FROM probe p JOIN e ON e.id = p.q_id
        JOIN cent c ON c.c_idx = p.list_id),
      qs AS (SELECT q_id, list_id, sub,
          list_slice(qrv, sub * 16 + 1, sub * 16 + 16) AS qsv
        FROM qres CROSS JOIN subs),
      cand AS (SELECT p.q_id, p.list_id, a.id AS n_id FROM probe p
        JOIN asg a ON a.list_id = p.list_id WHERE p.q_id <> a.id),
      d AS (SELECT c.q_id, c.n_id,
          sum(list_aggregate(list_transform(range(1, 17),
            i -> abs(q.qsv[i] - cb.cv[i])), 'sum'))::BIGINT AS adist
        FROM cand c
        JOIN qs q ON q.q_id = c.q_id AND q.list_id = c.list_id
        JOIN enc ON enc.id = c.n_id AND enc.sub = q.sub
        JOIN cb1 cb ON cb.sub = enc.sub AND cb.j = enc.code
        GROUP BY c.q_id, c.n_id),
      rk AS (SELECT q_id, n_id, adist, row_number() OVER (
            PARTITION BY q_id ORDER BY adist ASC, n_id ASC) AS rank
        FROM d)
      SELECT q_id, rank::INT AS rank, n_id, adist
      FROM rk WHERE rank <= 5 ORDER BY q_id, rank""",
    // q112's residual-IVFADC replay with q125's coarse Lloyd round
    // spliced in front: cent0 = the id-modulo seed, one full-vector
    // (2s+n)//(2n) mean per dimension over each seed list's members
    // (empty lists keep their seed), and everything downstream —
    // assignment, residuals, codebook training, probed ADC ranking —
    // reads the REFINED centroid set.
    "q136_ivfpq_residual_lloyd" -> """
      WITH e AS (SELECT vec_id AS id,
          list_transform(embedding::DOUBLE[],
            x -> CAST(floor(x * 1048576.0 + 0.5) AS BIGINT) + 2097152)
            AS qv
        FROM embeddings),
      subs AS (SELECT unnest(range(0, 4)) AS sub),
      cent0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS c_idx,
          qv AS cqv
        FROM e WHERE id % greatest(1,
          (SELECT count(*) FROM embeddings) // 20) = 0),
      la0 AS (SELECT id, c_idx, qv, row_number() OVER (PARTITION BY id
            ORDER BY list_aggregate(list_transform(range(1, 65),
              i -> abs(qv[i] - cqv[i])), 'sum') ASC, c_idx ASC) AS r
        FROM e CROSS JOIN cent0),
      lstats AS (SELECT c_idx AS cl, d.i AS dim,
          sum(qv[d.i])::BIGINT AS s, count(*)::BIGINT AS n
        FROM (SELECT * FROM la0 WHERE r = 1) a
        CROSS JOIN range(1, 65) d(i)
        GROUP BY c_idx, d.i),
      cent AS (SELECT c0.c_idx, coalesce(m.nv, c0.cqv) AS cqv
        FROM cent0 c0 LEFT JOIN (
          SELECT cl, list((2 * s + n) // (2 * n) ORDER BY dim) AS nv
          FROM lstats GROUP BY cl) m ON c0.c_idx = m.cl),
      lst AS (SELECT id, c_idx, row_number() OVER (PARTITION BY id
            ORDER BY list_aggregate(list_transform(range(1, 65),
              i -> abs(qv[i] - cqv[i])), 'sum') ASC, c_idx ASC) AS r
        FROM e CROSS JOIN cent),
      asg AS (SELECT id, c_idx AS list_id FROM lst WHERE r = 1),
      res AS (SELECT e.id, a.list_id,
          list_transform(range(1, 65),
            i -> e.qv[i] - c.cqv[i] + 4194304) AS rv
        FROM e JOIN asg a ON e.id = a.id
        JOIN cent c ON c.c_idx = a.list_id),
      seed AS (SELECT row_number() OVER (ORDER BY id) - 1 AS j, rv
               FROM res ORDER BY id LIMIT 8),
      cb0 AS (SELECT sub, j,
          list_slice(rv, sub * 16 + 1, sub * 16 + 16) AS cv
        FROM seed CROSS JOIN subs),
      sv AS (SELECT id, sub,
          list_slice(rv, sub * 16 + 1, sub * 16 + 16) AS ssv
        FROM res CROSS JOIN subs),
      a0 AS (SELECT id, sub, j, ssv, row_number() OVER (
            PARTITION BY id, sub ORDER BY
            list_aggregate(list_transform(range(1, 17),
              i -> abs(ssv[i] - cv[i])), 'sum') ASC, j ASC) AS r
        FROM sv JOIN cb0 USING (sub)),
      stats AS (SELECT sub, j AS cl, d.i AS dim,
          sum(ssv[d.i])::BIGINT AS s, count(*)::BIGINT AS n
        FROM (SELECT * FROM a0 WHERE r = 1) a
        CROSS JOIN range(1, 17) d(i)
        GROUP BY sub, j, d.i),
      cb1 AS (SELECT c0.sub, c0.j,
          coalesce(m.nv, c0.cv) AS cv
        FROM cb0 c0 LEFT JOIN (
          SELECT sub, cl, list((2 * s + n) // (2 * n) ORDER BY dim) AS nv
          FROM stats GROUP BY sub, cl) m
        ON c0.sub = m.sub AND c0.j = m.cl),
      enc AS (SELECT id, sub, j AS code FROM (
          SELECT sv.id, sv.sub, cb1.j, row_number() OVER (
              PARTITION BY sv.id, sv.sub ORDER BY
              list_aggregate(list_transform(range(1, 17),
                i -> abs(ssv[i] - cv[i])), 'sum') ASC, j ASC) AS r
          FROM sv JOIN cb1 USING (sub)) WHERE r = 1),
      probe AS (SELECT id AS q_id, c_idx AS list_id FROM lst
                WHERE id < 5 AND r <= 2),
      qres AS (SELECT p.q_id, p.list_id,
          list_transform(range(1, 65),
            i -> e.qv[i] - c.cqv[i] + 4194304) AS qrv
        FROM probe p JOIN e ON e.id = p.q_id
        JOIN cent c ON c.c_idx = p.list_id),
      qs AS (SELECT q_id, list_id, sub,
          list_slice(qrv, sub * 16 + 1, sub * 16 + 16) AS qsv
        FROM qres CROSS JOIN subs),
      cand AS (SELECT p.q_id, p.list_id, a.id AS n_id FROM probe p
        JOIN asg a ON a.list_id = p.list_id WHERE p.q_id <> a.id),
      d AS (SELECT c.q_id, c.n_id,
          sum(list_aggregate(list_transform(range(1, 17),
            i -> abs(q.qsv[i] - cb.cv[i])), 'sum'))::BIGINT AS adist
        FROM cand c
        JOIN qs q ON q.q_id = c.q_id AND q.list_id = c.list_id
        JOIN enc ON enc.id = c.n_id AND enc.sub = q.sub
        JOIN cb1 cb ON cb.sub = enc.sub AND cb.j = enc.code
        GROUP BY c.q_id, c.n_id),
      rk AS (SELECT q_id, n_id, adist, row_number() OVER (
            PARTITION BY q_id ORDER BY adist ASC, n_id ASC) AS rank
        FROM d)
      SELECT q_id, rank::INT AS rank, n_id, adist
      FROM rk WHERE rank <= 5 ORDER BY q_id, rank""",
    // sqrt-temperature replay: corrected isqrt weights, HUGEINT
    // proportional floor, Hamilton largest-remainder ranking —
    // budget = floor(T/4) from the same token totals.
    "q114_temp_alloc" -> (tokCte + """,
      d AS (SELECT d0.lang, len(toks)::BIGINT AS n_tok
        FROM tk JOIN documents d0 ON tk.doc_id = d0.doc_id),
      tot AS (SELECT coalesce(lang, '') AS stratum,
          sum(n_tok)::BIGINT AS n_tokens FROM d GROUP BY 1),
      w0 AS (SELECT stratum, n_tokens,
          CAST(floor(sqrt(n_tokens::DOUBLE)) AS BIGINT) AS s0
        FROM tot),
      w1 AS (SELECT stratum, n_tokens,
          s0 - (CASE WHEN s0 * s0 > n_tokens THEN 1 ELSE 0 END) AS s1
        FROM w0),
      w AS (SELECT stratum, n_tokens,
          (s1 + (CASE WHEN (s1 + 1) * (s1 + 1) <= n_tokens
            THEN 1 ELSE 0 END))::BIGINT AS weight
        FROM w1),
      g AS (SELECT *, (SELECT sum(weight) FROM w)::BIGINT AS tw,
          (SELECT sum(n_tokens) FROM w)::BIGINT AS tt FROM w),
      b AS (SELECT *, (tt // 4)::BIGINT AS budget FROM g),
      base AS (SELECT *,
          CASE WHEN tw > 0
            THEN ((weight::HUGEINT * budget) // tw) ELSE 0 END AS base_a,
          CASE WHEN tw > 0
            THEN ((weight::HUGEINT * budget) % tw) ELSE 0 END AS rem
        FROM b),
      fin AS (SELECT *,
          CASE WHEN tw > 0
            THEN budget - (SELECT sum(base_a) FROM base)
            ELSE 0 END AS leftover,
          row_number() OVER (ORDER BY rem DESC, stratum ASC) AS rk
        FROM base)
      SELECT stratum, n_tokens, weight,
        (base_a + CASE WHEN rk <= leftover THEN 1 ELSE 0 END)::BIGINT
          AS alloc_tokens, budget
      FROM fin ORDER BY stratum"""),
    // q114's sqrt-temperature chain over q111's per-doc frame, then
    // the q102 greedy replay joined on the folded stratum key.
    "q117_temp_select" -> (tokCte + """,
      d AS (SELECT tk.doc_id, d0.lang, len(toks)::BIGINT AS n_tok,
          CASE WHEN len(toks) > 0
            THEN len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','at','by','be','are'], x)))::DOUBLE
              / len(toks) ELSE 0.0 END AS priority
        FROM tk JOIN documents d0 ON tk.doc_id = d0.doc_id),
      tot AS (SELECT coalesce(lang, '') AS stratum,
          sum(n_tok)::BIGINT AS n_tokens FROM d GROUP BY 1),
      w0 AS (SELECT stratum, n_tokens,
          CAST(floor(sqrt(n_tokens::DOUBLE)) AS BIGINT) AS s0
        FROM tot),
      w1 AS (SELECT stratum, n_tokens,
          s0 - (CASE WHEN s0 * s0 > n_tokens THEN 1 ELSE 0 END) AS s1
        FROM w0),
      w AS (SELECT stratum, n_tokens,
          (s1 + (CASE WHEN (s1 + 1) * (s1 + 1) <= n_tokens
            THEN 1 ELSE 0 END))::BIGINT AS weight
        FROM w1),
      g AS (SELECT *, (SELECT sum(weight) FROM w)::BIGINT AS tw,
          (SELECT sum(n_tokens) FROM w)::BIGINT AS tt FROM w),
      b AS (SELECT *, (tt // 4)::BIGINT AS budget FROM g),
      base AS (SELECT *,
          CASE WHEN tw > 0
            THEN ((weight::HUGEINT * budget) // tw) ELSE 0 END AS base_a,
          CASE WHEN tw > 0
            THEN ((weight::HUGEINT * budget) % tw) ELSE 0 END AS rem
        FROM b),
      fin AS (SELECT *,
          CASE WHEN tw > 0
            THEN budget - (SELECT sum(base_a) FROM base)
            ELSE 0 END AS leftover,
          row_number() OVER (ORDER BY rem DESC, stratum ASC) AS rk
        FROM base),
      alloc AS (SELECT stratum,
          (base_a + CASE WHEN rk <= leftover THEN 1 ELSE 0 END)::BIGINT
            AS alloc_tokens
        FROM fin),
      c AS (SELECT doc_id, lang, n_tok, priority,
          (sum(n_tok) OVER (PARTITION BY coalesce(lang, '')
            ORDER BY priority DESC, doc_id))::BIGINT AS cum_tokens,
          coalesce(lang, '') AS strat
        FROM d)
      SELECT c.doc_id, c.lang, c.n_tok,
        floor(c.priority * 1000000.0 + 0.5) / 1000000.0 AS priority,
        c.cum_tokens, a.alloc_tokens AS budget,
        (c.cum_tokens - c.n_tok < a.alloc_tokens) AS selected
      FROM c JOIN alloc a ON c.strat = a.stratum
      ORDER BY c.doc_id"""),
    // UniMax allocation replay: the q25 tokenizer CTE supplies the
    // per-doc token counts, the shared unimaxOracleChain restates the
    // cap/budget floors, HUGEINT prefix test, and floor-share +
    // remainder — budget = floor(T/4), cap = n/3 epochs.
    "q110_unimax_alloc" -> (tokCte + """,
      d AS (SELECT d0.lang, len(toks)::BIGINT AS n_tok
        FROM tk JOIN documents d0 ON tk.doc_id = d0.doc_id)"""
      + unimaxOracleChain(1, 4, 1, 3) + """
      SELECT stratum, n_tokens, cap_tokens, alloc_tokens, capped,
        budget
      FROM alloc ORDER BY stratum"""),
    // End-to-end UniMax fill: same chain derives per-lang budgets
    // (alloc_tokens), then the q102 greedy replay — within-stratum
    // cumsum in (priority DESC, doc_id) order, exclusive-offset
    // selection — joined back on the folded stratum key.
    "q111_unimax_select" -> (tokCte + """,
      d AS (SELECT tk.doc_id, d0.lang, len(toks)::BIGINT AS n_tok,
          CASE WHEN len(toks) > 0
            THEN len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','at','by','be','are'], x)))::DOUBLE
              / len(toks) ELSE 0.0 END AS priority
        FROM tk JOIN documents d0 ON tk.doc_id = d0.doc_id)"""
      + unimaxOracleChain(1, 4, 1, 3) + """,
      c AS (SELECT doc_id, lang, n_tok, priority,
          (sum(n_tok) OVER (PARTITION BY coalesce(lang, '')
            ORDER BY priority DESC, doc_id))::BIGINT AS cum_tokens,
          coalesce(lang, '') AS strat
        FROM d)
      SELECT c.doc_id, c.lang, c.n_tok,
        floor(c.priority * 1000000.0 + 0.5) / 1000000.0 AS priority,
        c.cum_tokens, a.alloc_tokens AS budget,
        (c.cum_tokens - c.n_tok < a.alloc_tokens) AS selected
      FROM c JOIN alloc a ON c.strat = a.stratum
      ORDER BY c.doc_id"""),
    "q33_lsh_ann" -> lshAnnOracle,
    "q131_hamming_ann" -> hammingOracle,
    "q132_hamming_wide" -> hammingWideOracle,
    "q133_hamming_rerank" -> hammingRerankOracle,
    "q42_embed_neardup" -> neardupOracle(4, 4, 0.35),
    "q51_neardup_scaled" -> neardupOracle(8, 16, 0.35),
    "q43_ivf_ann" -> """
      WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
                 FROM embeddings),
      n AS (SELECT id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      cent AS (SELECT id AS c_id, v AS cv, nrm AS cnrm FROM n
               WHERE id % greatest(1,
                 (SELECT count(*) FROM embeddings) // 20) = 0),
      assign AS (SELECT n.id AS n_id, n.v AS nv, n.nrm AS nnrm, c_id,
          row_number() OVER (PARTITION BY n.id ORDER BY
            (CASE WHEN n.nrm > 0.0 AND cnrm > 0.0
              THEN floor(list_inner_product(n.v, cv) / (n.nrm * cnrm)
                     * 1000000.0 + 0.5) / 1000000.0 END) DESC,
            c_id ASC) AS r
        FROM n CROSS JOIN cent),
      lists AS (SELECT c_id AS list_id, n_id, nv, nnrm
                FROM assign WHERE r = 1),
      q AS (SELECT id AS q_id, v AS qv, nrm AS qnrm FROM n WHERE id < 10),
      probe AS (SELECT q_id, qv, qnrm, c_id AS list_id,
          row_number() OVER (PARTITION BY q_id ORDER BY
            (CASE WHEN qnrm > 0.0 AND cnrm > 0.0
              THEN floor(list_inner_product(qv, cv) / (qnrm * cnrm)
                     * 1000000.0 + 0.5) / 1000000.0 END) DESC,
            c_id ASC) AS r
        FROM q CROSS JOIN cent),
      sc AS (SELECT q_id, n_id,
          CASE WHEN qnrm > 0.0 AND nnrm > 0.0
            THEN floor(list_inner_product(qv, nv) / (qnrm * nnrm)
                   * 1000000.0 + 0.5) / 1000000.0 END AS cos
        FROM (SELECT * FROM probe WHERE r <= 2) p
        JOIN lists USING (list_id) WHERE q_id <> n_id),
      rk AS (SELECT q_id, n_id, cos,
          row_number() OVER (PARTITION BY q_id
            ORDER BY cos DESC, n_id ASC) AS rank
        FROM sc)
      SELECT q_id, rank, n_id, cos FROM rk WHERE rank <= 5
      ORDER BY q_id, rank""",
    "q44_toa5_v2_scan" -> """
      SELECT date_trunc('hour', ts) AS hour_ts,
             floor((avg(value)) * 1000000.0 + 0.5) / 1000000.0 AS avg_value
      FROM events GROUP BY 1
      HAVING date_trunc('hour', ts) >= TIMESTAMP '2024-01-15 00:00:00'
      ORDER BY 1""",
    "q45_bpeish_tokens" -> """
      SELECT doc_id,
             len(list_filter(string_split_regex(
               regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
               x -> x <> '')) AS n_ws_tokens,
             len(list_filter(regexp_extract_all(text,
               '''(?:ll|ve|re|[sdmt])| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s'']+|\s+'),
               x -> NOT regexp_full_match(x, '\s+'))) AS n_bpe_tokens
      FROM documents ORDER BY doc_id""",
    "q46_tob_v2_scan" -> """
      SELECT ts AS DATETIME, value::FLOAT::DOUBLE AS value
      FROM (SELECT ts, value FROM events
            ORDER BY ts, event_id LIMIT 20000)
      ORDER BY DATETIME""",
    "q47_tob3_roundtrip" -> """
      WITH o AS (SELECT ts, event_id, value FROM events
                 ORDER BY ts, event_id LIMIT 997),
      v AS (SELECT value::FLOAT::DOUBLE AS value,
              row_number() OVER (ORDER BY ts, event_id) - 1 AS r
            FROM o)
      SELECT make_timestamp(1717200000000000 + r * 100000) AS DATETIME,
             r AS RECORD, value
      FROM v WHERE r // 10 <> 3
      ORDER BY RECORD""",
    "q48_eddypro_roundtrip" -> """
      SELECT date_trunc('hour', ts) AS hour_ts,
             floor((avg(value)) * 1000000.0 + 0.5) / 1000000.0 AS avg_value,
             count(*)::DOUBLE AS n
      FROM events GROUP BY 1 ORDER BY 1""",
    "q52_netcdf_roundtrip" -> """
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
      ORDER BY DATETIME""",
    "q53_xlsx_roundtrip" -> """
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
               AS hour_ts,
             floor((avg(value)) * 1000000.0 + 0.5) / 1000000.0
               AS avg_value,
             count(*)::DOUBLE AS n
      FROM events GROUP BY 1 ORDER BY 1""",
    "q49_fastdata_windows" -> """
      WITH b AS (SELECT epoch_us(ts)
            + ((1800000000 - epoch_us(ts) % 1800000000) % 1800000000)
            AS wus
          FROM events)
      SELECT make_timestamp(wus) AS window_end, count(*) AS n_rows,
             180 AS n_expected,
             count(*)::DOUBLE / 180 * 100.0 AS pct_complete
      FROM b GROUP BY wus ORDER BY window_end""",
    "q54_merge_legality" -> """
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
      ORDER BY hour_ts""",
    "q57_merge_units" -> """
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
      FROM j ORDER BY variable""",
    "q60_keyless_gaps" -> """
      WITH d AS (SELECT ts, lag(ts) OVER (ORDER BY ts) AS prev_ts
                 FROM events),
      g AS (SELECT ts, prev_ts,
              (epoch_us(ts) - epoch_us(prev_ts)) // 1000000 AS gap_sec
            FROM d WHERE prev_ts IS NOT NULL)
      SELECT ts, prev_ts, gap_sec, gap_sec // 600 - 1 AS n_records
      FROM g WHERE gap_sec > 600 ORDER BY prev_ts""",
    // The E1 lifecycle, re-derived stage by stage: present-hours aggs
    // (the injected Spark-side duplicates collapse under D1, so the
    // plain agg IS the post-dedup frame), per-file grids (A1
    // regularize), master-precedence concat (A2 contributes only hours
    // past A1's grid end), full-outer time merge, K->degC and frac->%
    // conversion, Ta plausibility mask, null->1 QC flags, and
    // end-of-interval year labels. The J2 verdict columns are
    // fixture-known constants (q54/q57 re-derive that machinery).
    "q61_l1_lifecycle" -> """
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
      FROM mk ORDER BY hour_ts""",
    // Both humidity directions re-derived from the same Buck/molar-
    // density formulas as q18 (left-associative operator order matches
    // the Column expressions bit-for-bit); site A's VPD/Td go through
    // the FULL-PRECISION padded RH, with rnd-6 only at the edge.
    // F28: (us+500) - (us+500) % 100000 on integer micros.
    "q62_derive_dispatch" -> """
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
      FROM u ORDER BY site, hour_ts""",
    // The md5 coordinate is exact in both engines: first 8 hex digits
    // as uint32, divided by 2^32 (a power-of-two scale, so the double
    // is bit-identical). Membership and split assignment re-derive
    // per row — the hash would catch a single row sampled differently.
    "q63_determ_sampling" -> """
      WITH c AS (SELECT doc_id, source,
              ('0x' || substr(md5('st:' || doc_id::VARCHAR), 1, 8))::BIGINT
                / 4294967296.0 AS coord,
              ('0x' || substr(md5('sp:' || doc_id::VARCHAR), 1, 8))::BIGINT
                / 4294967296.0 AS sc
            FROM documents)
      SELECT doc_id, source, coord,
        -- cuts mirror the double SUMS Spark folds. For these weights
        -- the sum happens to equal the 0.9 literal, but that is not
        -- true in general (0.7 + 0.2 != 0.9 in doubles) — mirroring
        -- the op shape keeps both engines on the identical threshold
        -- for ANY weights
        CASE WHEN sc < 0.8::DOUBLE THEN 'train'
             WHEN sc < 0.8::DOUBLE + 0.1::DOUBLE THEN 'val'
             ELSE 'test' END AS split
      FROM c
      WHERE coord < CASE source WHEN 'src0' THEN 0.6
                                WHEN 'src1' THEN 0.3
                                ELSE 0.15 END
      ORDER BY doc_id""",
    "q64_vocab_idf" -> (tokCte + """,
      dt AS (SELECT doc_id, unnest(list_distinct(toks)) AS token FROM tk),
      df AS (SELECT token, count(*) AS n_docs FROM dt GROUP BY token),
      n AS (SELECT count(DISTINCT doc_id)::DOUBLE AS total FROM documents)
      SELECT token, n_docs,
        floor(ln((SELECT total FROM n) / n_docs) * 1000000.0 + 0.5)
          / 1000000.0 AS idf
      FROM df ORDER BY token"""),
    "q65_contamination" -> (shingleCte + """,
      ev AS (SELECT doc_id AS eval_id, shingle FROM sh
             WHERE doc_id % 100 = 7)
      SELECT s.doc_id, e.eval_id, count(*) AS n_shared
      FROM sh s JOIN ev e USING (shingle)
      GROUP BY s.doc_id, e.eval_id
      HAVING count(*) >= 2
      ORDER BY doc_id, eval_id"""),
    // Split-aware contamination: q126's split chain + q65's shingle
    // chain + per-split rollup, zeros preserved for every declared
    // split.
    "q135_split_contamination" -> (shingleCte + """,
      ev AS (SELECT doc_id AS eval_id, shingle FROM sh
             WHERE doc_id % 100 = 7),
      pr AS (SELECT s.doc_id, e.eval_id, count(*) AS n_shared
        FROM sh s JOIN ev e USING (shingle)
        GROUP BY s.doc_id, e.eval_id HAVING count(*) >= 2),
      g AS (SELECT coalesce(source, '') AS src,
          sum(n_chars)::BIGINT AS sz
        FROM documents GROUP BY 1),
      o AS (SELECT src, sz,
          ('0x' || substr(md5('split:' || src), 1, 8))::BIGINT
            / 4294967296.0 AS h
        FROM g),
      p AS (SELECT src, sz,
          coalesce(sum(sz) OVER (ORDER BY h, src
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            0)::BIGINT AS pfx,
          (sum(sz) OVER ())::BIGINT AS total
        FROM o),
      a AS (SELECT src,
          CASE WHEN pfx < total * 4 // 5 THEN 'train'
               WHEN pfx < total * 9 // 10 THEN 'val'
               ELSE 'test' END AS split
        FROM p),
      asg AS (SELECT d.doc_id, a.split
        FROM documents d JOIN a ON coalesce(d.source, '') = a.src),
      base AS (SELECT split, count(*)::BIGINT AS n_docs
        FROM asg GROUP BY 1),
      lk AS (SELECT asg.split,
          count(DISTINCT pr.doc_id)::BIGINT AS n_leaky_docs,
          count(DISTINCT pr.eval_id)::BIGINT AS n_eval_hit,
          count(*)::BIGINT AS n_pairs
        FROM pr JOIN asg ON pr.doc_id = asg.doc_id GROUP BY 1),
      nm(split) AS (VALUES ('train'), ('val'), ('test'))
      SELECT nm.split,
        coalesce(base.n_docs, 0)::BIGINT AS n_docs,
        coalesce(lk.n_leaky_docs, 0)::BIGINT AS n_leaky_docs,
        coalesce(lk.n_eval_hit, 0)::BIGINT AS n_eval_hit,
        coalesce(lk.n_pairs, 0)::BIGINT AS n_pairs
      FROM nm LEFT JOIN base USING (split) LEFT JOIN lk USING (split)
      ORDER BY nm.split"""),
    "q82_decontaminate" -> (shingleCte + """,
      ev AS (SELECT doc_id AS eval_id, shingle FROM sh
             WHERE doc_id % 100 = 7),
      fl AS (SELECT DISTINCT doc_id FROM (
               SELECT s.doc_id FROM sh s JOIN ev e USING (shingle)
               GROUP BY s.doc_id, e.eval_id
               HAVING count(*) >= 2))
      SELECT d.doc_id, d.source, d.n_chars FROM documents d
      WHERE d.doc_id NOT IN (SELECT doc_id FROM fl)
      ORDER BY doc_id"""),
    // Corpus literals: real unicode chars are spliced via {uXXXX}
    // placeholders below (lexer \u escapes are deprecated inside
    // triple quotes); \t and \n stay backslash sequences in a
    // triple quote, so the E'' strings let DuckDB decode them —
    // matching the real tab/newline in the Spark literals.
    "q83_normalize_text" -> uSplice("""
      WITH c AS (SELECT doc_id, concat_ws(' ', text,
          'Caf{u00e9}', E'Cafe{u0301} au\tlait',
          'M{u00dc}NCHEN {u00d8}resund',
          E'nai{u0308}ve  \n coordinaci{u00f3}n') AS raw
        FROM documents),
      n AS (SELECT doc_id,
          trim(regexp_replace(lower(nfc_normalize(raw)),
            '\s+', ' ', 'g')) AS norm,
          trim(regexp_replace(strip_accents(lower(nfc_normalize(raw))),
            '\s+', ' ', 'g')) AS norm_folded
        FROM c)
      SELECT doc_id, norm, norm_folded, md5(norm_folded) AS fp
      FROM n ORDER BY doc_id"""),
    "q84_domain_stats" -> (urlAugCte + """,
      """ + hostCte + """
      SELECT host, count(DISTINCT doc_id) AS n_docs,
             count(*) AS n_occurrences
      FROM hosts GROUP BY host ORDER BY host"""),
    "q85_blocklist_filter" -> (urlAugCte + """,
      """ + hostCte + """,
      fl AS (SELECT DISTINCT doc_id FROM hosts
             WHERE host IN ('tracker.net', 'spam.io')
                OR host LIKE '%.tracker.net' OR host LIKE '%.spam.io')
      SELECT doc_id, source, n_chars FROM c
      WHERE doc_id NOT IN (SELECT doc_id FROM fl)
      ORDER BY doc_id"""),
    // The streaming three-run fixture reduces to this batch answer
    // BECAUSE the ingest cut is id-monotone: the first batch holding a
    // fingerprint also holds its global-min doc id (see q86's doc).
    "q86_streaming_dedup" -> (tokCte + """
      SELECT md5(array_to_string(toks, ' ')) AS fp,
             min(doc_id) AS doc_id
      FROM tk GROUP BY fp ORDER BY fp"""),
    // Full SemDeDup chain re-derived: count-derived stride quantizer
    // (q43's convention), rounded-cosine assignment with the
    // (cos DESC, c_id ASC) total order, exhaustive within-cluster
    // pair set at 0.35, recursive-CTE reachability (q41's convention),
    // exemplar = first by (cos_c ASC NULLS FIRST, id ASC).
    "q87_semdedup" -> semdedupOracle,
    // q87's quantizer + scoring verbatim, then the per-cluster
    // prototypicality rank and the exact integer quarter cut.
    "q120_proto_prune" -> """
      WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
                 FROM embeddings),
      n AS (SELECT id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      cent AS (SELECT id AS c_id, v AS cv, nrm AS cnrm FROM n
               WHERE id % greatest(1,
                 (SELECT count(*) FROM embeddings) // 20) = 0),
      assign AS (SELECT n.id, c_id,
          (CASE WHEN n.nrm > 0.0 AND cnrm > 0.0
            THEN floor(list_inner_product(n.v, cv) / (n.nrm * cnrm)
                   * 1000000.0 + 0.5) / 1000000.0 END) AS cosc,
          row_number() OVER (PARTITION BY n.id ORDER BY
            (CASE WHEN n.nrm > 0.0 AND cnrm > 0.0
              THEN floor(list_inner_product(n.v, cv) / (n.nrm * cnrm)
                     * 1000000.0 + 0.5) / 1000000.0 END) DESC,
            c_id ASC) AS r
        FROM n CROSS JOIN cent),
      m AS (SELECT id, c_id AS cluster, cosc AS cos_c
            FROM assign WHERE r = 1),
      rk AS (SELECT id, cluster, cos_c,
          row_number() OVER (PARTITION BY cluster
            ORDER BY cos_c DESC NULLS LAST, id ASC) AS rank,
          count(*) OVER (PARTITION BY cluster) AS cluster_n
        FROM m)
      SELECT id::BIGINT AS vec_id, cluster::BIGINT AS cluster, cos_c,
             rank::INT AS rank, cluster_n::BIGINT AS cluster_n,
             (rank > cluster_n // 4) AS keep
      FROM rk ORDER BY vec_id""",
    // Stride-schedule replay: per-lang rank, the exact integer key
    // decomposition (x div den)*M + ((x mod den)*M) div den with
    // M = lcm(2w) = 8, global row_number by (key, lang, k).
    "q121_interleave" -> """
      WITH w(lang, wr) AS (VALUES ('en', 4), ('de', 2), ('fr', 2),
                                  ('es', 1), ('zh', 1)),
      k AS (SELECT doc_id, d.lang, wr::BIGINT AS wr,
              row_number() OVER (PARTITION BY d.lang
                ORDER BY doc_id) AS mix_k
            FROM documents d JOIN w ON d.lang = w.lang),
      ky AS (SELECT doc_id, lang, mix_k,
              ((2*mix_k - 1) // (2*wr)) * 8 +
                (((2*mix_k - 1) % (2*wr)) * 8) // (2*wr) AS mix_key
             FROM k)
      SELECT doc_id, lang, mix_k::BIGINT AS mix_k,
             mix_key::BIGINT AS mix_key,
             row_number() OVER (ORDER BY mix_key, lang, mix_k)::BIGINT
               AS seq
      FROM ky ORDER BY doc_id""",
    // Hard-negative replay: q43's IVF chain with a 10-deep pool,
    // the cos < 0.9 positive filter, and the exact re-rank to 5.
    "q130_hard_negatives" -> """
      WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
                 FROM embeddings),
      n AS (SELECT id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      cent AS (SELECT id AS c_id, v AS cv, nrm AS cnrm FROM n
               WHERE id % greatest(1,
                 (SELECT count(*) FROM embeddings) // 20) = 0),
      assign AS (SELECT n.id AS n_id, n.v AS nv, n.nrm AS nnrm, c_id,
          row_number() OVER (PARTITION BY n.id ORDER BY
            (CASE WHEN n.nrm > 0.0 AND cnrm > 0.0
              THEN floor(list_inner_product(n.v, cv) / (n.nrm * cnrm)
                     * 1000000.0 + 0.5) / 1000000.0 END) DESC,
            c_id ASC) AS r
        FROM n CROSS JOIN cent),
      lists AS (SELECT c_id AS list_id, n_id, nv, nnrm
                FROM assign WHERE r = 1),
      q AS (SELECT id AS q_id, v AS qv, nrm AS qnrm FROM n WHERE id < 10),
      probe AS (SELECT q_id, qv, qnrm, c_id AS list_id,
          row_number() OVER (PARTITION BY q_id ORDER BY
            (CASE WHEN qnrm > 0.0 AND cnrm > 0.0
              THEN floor(list_inner_product(qv, cv) / (qnrm * cnrm)
                     * 1000000.0 + 0.5) / 1000000.0 END) DESC,
            c_id ASC) AS r
        FROM q CROSS JOIN cent),
      sc AS (SELECT q_id, n_id,
          CASE WHEN qnrm > 0.0 AND nnrm > 0.0
            THEN floor(list_inner_product(qv, nv) / (qnrm * nnrm)
                   * 1000000.0 + 0.5) / 1000000.0 END AS cos
        FROM (SELECT * FROM probe WHERE r <= 2) p
        JOIN lists USING (list_id) WHERE q_id <> n_id),
      pool AS (SELECT q_id, n_id, cos,
          row_number() OVER (PARTITION BY q_id
            ORDER BY cos DESC, n_id ASC) AS pool_rank
        FROM sc),
      neg AS (SELECT q_id, n_id, cos,
          row_number() OVER (PARTITION BY q_id
            ORDER BY cos DESC, n_id ASC) AS rank
        FROM pool WHERE pool_rank <= 10 AND cos < 0.9)
      SELECT q_id, rank::INT AS rank, n_id, cos
      FROM neg WHERE rank <= 5 ORDER BY q_id, rank""",
    // Exact stratified sample replay: per-source hash rank (md5
    // coordinate, ties by id) against the floor(n_s/3) budget.
    "q129_exact_strat_sample" -> """
      WITH d AS (SELECT doc_id, source,
          coalesce(source, '') AS src,
          ('0x' || substr(md5('sx:' || doc_id::VARCHAR), 1, 8))::BIGINT
            / 4294967296.0 AS h
        FROM documents),
      r AS (SELECT doc_id, source, src,
          row_number() OVER (PARTITION BY src ORDER BY h, doc_id)
            AS sample_rank,
          count(*) OVER (PARTITION BY src) AS ns
        FROM d)
      SELECT doc_id, source, sample_rank::BIGINT AS sample_rank,
             (sample_rank <= ns * 1 // 3) AS sampled
      FROM r ORDER BY doc_id""",
    // Exact-quantile replay: ceil(n*num/den) 1-based ranks under the
    // (value, doc_id) total order; probs sharing a rank each emit.
    "q128_exact_quantiles" -> """
      WITH v AS (SELECT n_chars::DOUBLE AS v, doc_id
        FROM documents WHERE n_chars IS NOT NULL),
      r AS (SELECT v, row_number() OVER (ORDER BY v, doc_id) AS rk,
          count(*) OVER () AS n
        FROM v),
      p(p_num, p_den) AS (VALUES (1, 4), (1, 2), (3, 4), (99, 100))
      SELECT p_num::BIGINT AS p_num, p_den::BIGINT AS p_den,
             rk::BIGINT AS rank, v AS value
      FROM p JOIN r ON rk = (n * p_num + p_den - 1) // p_den
      ORDER BY rank, p_num, p_den""",
    // Quantile-bounded filter: q128's ceil-rank values at 1/20 and
    // 19/20, then the inclusive range cut on the raw column.
    "q140_quantile_filter" -> """
      WITH v AS (SELECT n_chars::DOUBLE AS v, doc_id
        FROM documents WHERE n_chars IS NOT NULL),
      r AS (SELECT v, row_number() OVER (ORDER BY v, doc_id) AS rk,
          count(*) OVER () AS n
        FROM v),
      b AS (SELECT
          (SELECT v FROM r WHERE rk = (n * 1 + 19) // 20 LIMIT 1) AS lo,
          (SELECT v FROM r WHERE rk = (n * 19 + 19) // 20 LIMIT 1) AS hi)
      SELECT doc_id, n_chars FROM documents, b
      WHERE n_chars IS NOT NULL
        AND n_chars::DOUBLE >= lo AND n_chars::DOUBLE <= hi
      ORDER BY doc_id""",
    // The streaming WFQ stamp is bit-identical to the batch
    // token-weighted schedule when drained in id order: q124's
    // replay without the read-side seq.
    "q127_streaming_token_interleave" -> (tokCte + """,
      d AS (SELECT tk.doc_id, d0.lang, len(toks)::BIGINT AS n_tok
        FROM tk JOIN documents d0 ON tk.doc_id = d0.doc_id),
      w(lang, wr) AS (VALUES ('en', 4), ('de', 2), ('fr', 2),
                             ('es', 1), ('zh', 1)),
      k AS (SELECT doc_id, d.lang, n_tok, wr::BIGINT AS wr,
              row_number() OVER (PARTITION BY d.lang
                ORDER BY doc_id) AS mix_k,
              coalesce(sum(n_tok) OVER (PARTITION BY d.lang
                ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0)::BIGINT AS cum
            FROM d JOIN w ON d.lang = w.lang)
      SELECT doc_id, lang, n_tok, mix_k::BIGINT AS mix_k,
             (((2*cum + n_tok) // (2*wr)) * 8 +
               (((2*cum + n_tok) % (2*wr)) * 8) // (2*wr))::BIGINT
               AS mix_key
      FROM k ORDER BY doc_id"""),
    // Best-fit-decreasing packing replay: per shard (doc_id % 4), a
    // recursive CTE walks docs in (size DESC, id) order carrying the
    // open-bin remainder list; best fit = first index of the minimum
    // remainder that still fits (list_min over the >= filter, ties
    // resolved by list_position's first match), no fit appends a new
    // bin (capacity - size; oversize docs go NEGATIVE and never fit
    // again — the flagged singleton-bin contract).
    // (standalone WITH RECURSIVE — the shared tokCte's plain WITH
    // cannot host a recursive member)
    "q139_bestfit_pack" -> ("""
      WITH RECURSIVE tk AS (SELECT doc_id,
        list_filter(string_split_regex(
          regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
          x -> x <> '') AS toks
      FROM documents),
      d AS (SELECT doc_id, (doc_id % 4)::INT AS shard,
          len(toks)::BIGINT AS sz
        FROM tk),
      r AS (SELECT shard, doc_id, sz, row_number() OVER
          (PARTITION BY shard ORDER BY sz DESC, doc_id) AS rn
        FROM d),
      st(shard, step, bins, asg) AS (
        SELECT DISTINCT shard, 0::BIGINT, []::BIGINT[],
          []::STRUCT(id BIGINT, bin INT)[] FROM d
        UNION ALL
        SELECT st.shard, st.step + 1,
          CASE WHEN list_min(list_filter(bins, b -> b >= r.sz)) IS NULL
            THEN list_append(bins, 96 - r.sz)
            ELSE list_transform(range(1, len(bins) + 1),
              i -> CASE WHEN i = list_position(bins,
                  list_min(list_filter(bins, b -> b >= r.sz)))
                THEN bins[i] - r.sz ELSE bins[i] END)
            END,
          list_append(asg, {'id': r.doc_id,
            'bin': CASE WHEN list_min(list_filter(bins,
                b -> b >= r.sz)) IS NULL
              THEN len(bins) ELSE list_position(bins,
                list_min(list_filter(bins, b -> b >= r.sz))) - 1
              END}::STRUCT(id BIGINT, bin INT))
        FROM st JOIN r ON r.shard = st.shard AND r.rn = st.step + 1
      ),
      fin AS (SELECT shard, asg, row_number() OVER
          (PARTITION BY shard ORDER BY step DESC) AS rr FROM st)
      SELECT a.id AS doc_id, fin.shard, a.bin,
        d.sz AS n_tok, (d.sz > 96) AS overflow
      FROM fin, LATERAL unnest(asg) u(a)
      JOIN d ON d.doc_id = a.id
      WHERE rr = 1 ORDER BY doc_id"""),
    // First-occurrence novelty: the shared shingle CTE (distinct
    // 3-shingles, short-doc fallback), min-doc firsts, both counts.
    "q144_bpe_fertility" -> bpeFertilityOracle(16, 500),
    // streaming vocab close-out: the MG candidate pass is a superset
    // mechanism only — the exact recount + threshold make the final
    // answer the true per-lang heavy hitters, so the oracle replays
    // exactly those (lang '' for null, count * 100 > stratum total).
    // Bloom pre-screen: word build (bit_or of Kirsch-Mitzenmacher
    // positions (h1 + i*h2) % m from TWO 8-hex slices of ONE md5,
    // h2 forced odd), the 4-probe membership test, and the
    // survivor-only exact join.
    "q148_bloom_contamination" -> (shingleCte + """,
      ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 25),
      wd AS (SELECT p // 32 AS widx,
          bit_or(1::BIGINT << (p % 32)::INT) AS word
        FROM (SELECT (('0x' || substr(md5(shingle), 1, 8))::BIGINT
            + r.r * ((('0x' || substr(md5(shingle), 9, 8))::BIGINT) | 1))
            % 65536 AS p
          FROM ev CROSS JOIN range(0, 4) r(r))
        GROUP BY 1),
      cp AS (SELECT doc_id, shingle,
          (('0x' || substr(md5(shingle), 1, 8))::BIGINT
            + r.r * ((('0x' || substr(md5(shingle), 9, 8))::BIGINT) | 1))
            % 65536 AS p
        FROM (SELECT DISTINCT doc_id, shingle FROM sh
              WHERE doc_id >= 25) CROSS JOIN range(0, 4) r(r)),
      chk AS (SELECT doc_id, shingle,
          bool_and(coalesce((wd.word >> (p % 32)::INT) & 1, 0) = 1)
            AS bloom_hit
        FROM cp LEFT JOIN wd ON wd.widx = p // 32
        GROUP BY doc_id, shingle),
      agg1 AS (SELECT doc_id, count(*)::BIGINT AS n_shingles,
          sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END)::BIGINT
            AS n_bloom_hits
        FROM chk GROUP BY doc_id),
      ex AS (SELECT c.doc_id, count(*)::BIGINT AS n_exact_hits
        FROM chk c JOIN ev USING (shingle)
        WHERE c.bloom_hit GROUP BY c.doc_id)
      SELECT a.doc_id, a.n_shingles, a.n_bloom_hits,
        coalesce(ex.n_exact_hits, 0)::BIGINT AS n_exact_hits
      FROM agg1 a LEFT JOIN ex USING (doc_id)
      ORDER BY doc_id"""),
    // Count-min cells: row-seeded md5 column hashes, exact occurrence
    // counts per (group, row, col).
    "q147_cm_cells" -> (tokCte + """,
      occ AS (SELECT coalesce(d.lang, '') AS grp,
          unnest(tk.toks) AS token
        FROM tk JOIN documents d USING (doc_id))
      SELECT grp AS "group", r.r AS "row",
        ('0x' || substr(md5(r.r::VARCHAR || ':' || token), 1, 3))::BIGINT
          AS col,
        count(*)::BIGINT AS n
      FROM occ CROSS JOIN range(0, 4) r(r)
      GROUP BY 1, 2, 3
      ORDER BY "group", "row", col"""),
    // HLL registers: bucket = first 3 hex digits of md5(token), rho =
    // 1 + leading zero bits of the next 12 hex digits via the same
    // strip-leading-'0'-then-CASE string arithmetic the operator uses.
    "q146_hll_registers" -> (tokCte + """,
      occ AS (SELECT coalesce(d.lang, '') AS grp,
          unnest(tk.toks) AS token
        FROM tk JOIN documents d USING (doc_id)),
      rr AS (SELECT grp,
          ('0x' || substr(md5(token), 1, 3))::BIGINT AS bucket,
          ltrim(substr(md5(token), 4, 12), '0') AS st
        FROM occ)
      SELECT grp AS "group", bucket,
        max(CASE WHEN length(st) = 0 THEN 49
          ELSE ((12 - length(st)) * 4 +
            CASE WHEN ('0x' || substr(st, 1, 1))::BIGINT >= 8 THEN 0
                 WHEN ('0x' || substr(st, 1, 1))::BIGINT >= 4 THEN 1
                 WHEN ('0x' || substr(st, 1, 1))::BIGINT >= 2 THEN 2
                 ELSE 3 END + 1) END)::INT AS max_rho
      FROM rr GROUP BY 1, 2
      ORDER BY "group", bucket"""),
    // Streaming HLL close-out: the q146 batch replay (the streaming
    // state's max-merge makes the final snapshot equal the batch
    // sketch) joined to the exact per-lang token total, which the
    // stream's watermark must reproduce exactly.
    "q149_streaming_hll" -> (tokCte + """,
      occ AS (SELECT coalesce(d.lang, '') AS grp,
          unnest(tk.toks) AS token
        FROM tk JOIN documents d USING (doc_id)),
      tot AS (SELECT grp, count(*)::BIGINT AS n_total FROM occ
        GROUP BY grp),
      rr AS (SELECT grp,
          ('0x' || substr(md5(token), 1, 3))::BIGINT AS bucket,
          ltrim(substr(md5(token), 4, 12), '0') AS st
        FROM occ)
      SELECT r.grp AS "group", bucket,
        max(CASE WHEN length(st) = 0 THEN 49
          ELSE ((12 - length(st)) * 4 +
            CASE WHEN ('0x' || substr(st, 1, 1))::BIGINT >= 8 THEN 0
                 WHEN ('0x' || substr(st, 1, 1))::BIGINT >= 4 THEN 1
                 WHEN ('0x' || substr(st, 1, 1))::BIGINT >= 2 THEN 2
                 ELSE 3 END + 1) END)::INT AS max_rho,
        t.n_total
      FROM rr r JOIN tot t USING (grp)
      GROUP BY 1, 2, 4
      ORDER BY "group", bucket"""),
    // Rank sketch: decimal log-buckets over per-doc token counts —
    // digits = decimal length, lead = first 2 digits, exact counts.
    "q151_rank_sketch" -> (tokCte + """,
      vt AS (SELECT coalesce(d.lang, '') AS grp,
          len(tk.toks)::BIGINT AS v
        FROM tk JOIN documents d USING (doc_id))
      SELECT grp AS "group", length(v::VARCHAR)::INT AS digits,
        substr(v::VARCHAR, 1, 2)::BIGINT AS lead,
        count(*)::BIGINT AS n
      FROM vt GROUP BY 1, 2, 3
      ORDER BY "group", digits, lead"""),
    // Systematic PPS: hash coordinate, window prefix sum over
    // (coord, doc_id), salt-derived start, ceil-div grid counts.
    "q153_pps_sample" -> (tokCte + """,
      w AS (SELECT d.doc_id, len(tk.toks)::BIGINT AS n_tok,
          ('0x' || substr(md5('q153:' || d.doc_id), 1, 8))::BIGINT
            / 4294967296.0 AS coord
        FROM tk JOIN documents d USING (doc_id)),
      t AS (SELECT sum(n_tok)::BIGINT AS tw FROM w),
      o AS (SELECT doc_id, n_tok,
          sum(n_tok) OVER (ORDER BY coord, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
            AS end_off
        FROM w),
      g AS (SELECT o.doc_id, o.n_tok, o.end_off, t.tw,
          ('0x' || substr(md5('pps:q153'), 1, 15))::BIGINT % t.tw AS st
        FROM o, t),
      h AS (SELECT doc_id, n_tok,
          ((end_off::HUGEINT * 300 - st + tw - 1) // tw
            - ((end_off - n_tok)::HUGEINT * 300 - st + tw - 1) // tw)
            ::BIGINT AS n_hits
        FROM g)
      SELECT doc_id, n_tok, n_hits FROM h
      WHERE n_hits > 0 ORDER BY doc_id"""),
    // Image near-dup: pixel grid -> BT.601 integer luma -> 9x8 cell
    // sums (18x16 fixtures: every cell exactly 2x2 px, so the
    // engine's cross-multiplied mean compare reduces to sum<sum) ->
    // 64 packed bits (bit 63 = sign via two's complement) -> brute
    // pair join at radius 3 (== the engine's banded join by
    // pigeonhole exactness).
    "q154_image_neardup" -> """
      WITH px AS (
        SELECT d.doc_id, x.x, y.y,
          (CASE WHEN d.doc_id % 5 = 2 THEN 7 ELSE 0 END +
           CASE WHEN d.doc_id % 7 = 3 AND x.x >= 14 THEN 80 ELSE 0 END)
            AS sh
        FROM documents d
        CROSS JOIN generate_series(0, 17) AS x(x)
        CROSS JOIN generate_series(0, 15) AS y(y)),
      lum AS (
        SELECT doc_id, x // 2 AS cx, y // 2 AS cy,
          sum(299 * least(((doc_id % 40) * 3 + x * 7 + y * 11) % 248 + sh, 255)
            + 587 * least(((doc_id % 40) * 5 + x * 11 + y * 3) % 248 + sh, 255)
            + 114 * least(((doc_id % 40) * 7 + x * 3 + y * 13) % 248 + sh, 255))
            AS s
        FROM px GROUP BY doc_id, x // 2, y // 2),
      bits AS (
        SELECT a.doc_id, (a.cy * 8 + a.cx)::INT AS bit
        FROM lum a JOIN lum b
          ON a.doc_id = b.doc_id AND b.cy = a.cy AND b.cx = a.cx + 1
        WHERE a.s < b.s),
      hash AS (
        SELECT d.doc_id,
          coalesce(sum(CASE WHEN bit = 63
            THEN (-9223372036854775807 - 1)
            ELSE (1::BIGINT << bit) END), 0)::BIGINT AS h
        FROM documents d LEFT JOIN bits USING (doc_id)
        GROUP BY d.doc_id)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        bit_count(xor(a.h, b.h))::INT AS hdist
      FROM hash a JOIN hash b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.h, b.h)) <= 3
      ORDER BY id_a, id_b""",
    // Header-metadata passthrough: every column is doc_id residue
    // arithmetic — the engine's header walk (real BMP/PNG parsers,
    // no pixel decode) must reproduce the fixture construction
    // exactly (ImageIO PNG re-encode = IHDR 8-bit truecolor).
    "q155_media_meta" -> """
      SELECT doc_id,
        CASE WHEN doc_id % 2 = 1 THEN 'png'
             WHEN doc_id % 4 = 2 THEN 'jpeg'
             ELSE 'bmp' END AS meta_format,
        (9 + doc_id % 7)::INT AS meta_width,
        (8 + doc_id % 5)::INT AS meta_height,
        (CASE WHEN doc_id % 2 = 1 OR doc_id % 4 = 2 THEN 8
              ELSE 24 END)::INT AS meta_depth,
        (CASE WHEN doc_id % 2 = 1 THEN 2 END)::INT AS meta_color_type,
        (CASE WHEN doc_id % 2 = 1
              THEN CASE WHEN doc_id % 6 = 1 THEN 2 ELSE 1 END
              ELSE 0 END)::INT AS n_text,
        CASE WHEN doc_id % 2 = 1
             THEN 'src=doc' || (doc_id % 10)::VARCHAR ||
               CASE WHEN doc_id % 6 = 1
                    THEN ';lang=l' || (doc_id % 3)::VARCHAR
                    ELSE '' END
             ELSE '' END AS text_kv
      FROM documents ORDER BY doc_id""",
    // aHash: luma cells vs the global sum (16x16 -> 2x2 cells, so
    // the cross-mult reduces to cell*64 > total), packed with the
    // same two's-complement sign-bit convention as q154.
    "q156_image_ahash" -> """
      WITH px AS (
        SELECT d.doc_id, x.x, y.y,
          CASE WHEN d.doc_id % 5 = 2 THEN 7 ELSE 0 END AS sh
        FROM documents d
        CROSS JOIN generate_series(0, 15) AS x(x)
        CROSS JOIN generate_series(0, 15) AS y(y)),
      lum AS (
        SELECT doc_id, x // 2 AS cx, y // 2 AS cy,
          sum(299 * (((doc_id % 40) * 3 + x * 7 + y * 11) % 248 + sh)
            + 587 * (((doc_id % 40) * 5 + x * 11 + y * 3) % 248 + sh)
            + 114 * (((doc_id % 40) * 7 + x * 3 + y * 13) % 248 + sh))
            AS s
        FROM px GROUP BY doc_id, x // 2, y // 2),
      tot AS (SELECT doc_id, sum(s) AS st FROM lum GROUP BY doc_id),
      bits AS (
        SELECT l.doc_id, (l.cy * 8 + l.cx)::INT AS bit
        FROM lum l JOIN tot t USING (doc_id)
        WHERE l.s * 64 > t.st)
      SELECT d.doc_id,
        coalesce(sum(CASE WHEN bit = 63
          THEN (-9223372036854775807 - 1)
          ELSE (1::BIGINT << bit) END), 0)::BIGINT AS ahash
      FROM documents d LEFT JOIN bits USING (doc_id)
      GROUP BY d.doc_id ORDER BY d.doc_id""",
    // Audio near-dup: sample arithmetic (local edit applied before
    // the gain, exactly as the fixture builds it) -> 65 frame
    // |s|-energies (frame = i*65 // 256) -> 64 adjacent-frame mean
    // comparisons cross-multiplied by frame sizes -> sign-bit pack
    // -> brute pair join at radius 3 (== the banded join by
    // pigeonhole exactness).
    "q157_audio_neardup" -> """
      WITH smp AS (
        SELECT d.doc_id, i.i,
          (CASE WHEN d.doc_id % 7 = 3 AND i.i < 32 THEN 1000
                ELSE ((d.doc_id % 40) * 131 + i.i * 997) % 32768
                  - 16384 END)
          * (CASE WHEN d.doc_id % 5 = 2 THEN 2 ELSE 1 END) AS s
        FROM documents d
        CROSS JOIN generate_series(0, 255) AS i(i)),
      fr AS (
        SELECT doc_id, (i * 65) // 256 AS f,
          sum(abs(s)) AS e, count(*) AS c
        FROM smp GROUP BY doc_id, (i * 65) // 256),
      bits AS (
        SELECT a.doc_id, a.f::INT AS bit
        FROM fr a JOIN fr b
          ON a.doc_id = b.doc_id AND b.f = a.f + 1
        WHERE a.e * b.c < b.e * a.c),
      hash AS (
        SELECT d.doc_id,
          coalesce(sum(CASE WHEN bit = 63
            THEN (-9223372036854775807 - 1)
            ELSE (1::BIGINT << bit) END), 0)::BIGINT AS h
        FROM documents d LEFT JOIN bits USING (doc_id)
        GROUP BY d.doc_id)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        bit_count(xor(a.h, b.h))::INT AS hdist
      FROM hash a JOIN hash b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.h, b.h)) <= 3
      ORDER BY id_a, id_b""",
    // Video near-dup: per-(doc, frame) pixel grid (corrupt intro
    // frame BEFORE brightness, exactly as the fixture builds) ->
    // per-frame dHash (18x16: 2x2 cells, sum compare, sign-bit
    // pack) -> distinct per-video hash sets -> shared-count join
    // cut at 3.
    "q158_video_neardup" -> """
      WITH fr AS (
        SELECT doc_id,
          CASE WHEN doc_id % 7 = 3 THEN 4 ELSE 6 END AS nf
        FROM documents),
      dfr AS (
        SELECT doc_id, f.f FROM fr
        CROSS JOIN generate_series(0, 5) AS f(f) WHERE f.f < nf),
      px AS (
        SELECT d.doc_id, d.f, x.x, y.y,
          CASE WHEN d.doc_id % 3 = 1 AND d.f = 0 THEN 40
               ELSE ((d.doc_id % 40) * 3 + d.f * 17 + x.x * 7
                 + y.y * 11) % 248
                 + CASE WHEN d.doc_id % 5 = 2 THEN 7 ELSE 0 END
          END AS r,
          CASE WHEN d.doc_id % 3 = 1 AND d.f = 0 THEN 40
               ELSE ((d.doc_id % 40) * 5 + d.f * 13 + x.x * 11
                 + y.y * 3) % 248
                 + CASE WHEN d.doc_id % 5 = 2 THEN 7 ELSE 0 END
          END AS g,
          CASE WHEN d.doc_id % 3 = 1 AND d.f = 0 THEN 40
               ELSE ((d.doc_id % 40) * 7 + d.f * 19 + x.x * 3
                 + y.y * 13) % 248
                 + CASE WHEN d.doc_id % 5 = 2 THEN 7 ELSE 0 END
          END AS b
        FROM dfr d
        CROSS JOIN generate_series(0, 17) AS x(x)
        CROSS JOIN generate_series(0, 15) AS y(y)),
      lum AS (
        SELECT doc_id, f, x // 2 AS cx, y // 2 AS cy,
          sum(299 * r + 587 * g + 114 * b) AS s
        FROM px GROUP BY doc_id, f, x // 2, y // 2),
      vbits AS (
        SELECT a.doc_id, a.f, (a.cy * 8 + a.cx)::INT AS bit
        FROM lum a JOIN lum b
          ON a.doc_id = b.doc_id AND a.f = b.f AND b.cy = a.cy
          AND b.cx = a.cx + 1
        WHERE a.s < b.s),
      fhash AS (
        SELECT d.doc_id, d.f,
          coalesce(sum(CASE WHEN bit = 63
            THEN (-9223372036854775807 - 1)
            ELSE (1::BIGINT << bit) END), 0)::BIGINT AS h
        FROM dfr d LEFT JOIN vbits
          ON d.doc_id = vbits.doc_id AND d.f = vbits.f
        GROUP BY d.doc_id, d.f),
      dh AS (SELECT DISTINCT doc_id, h FROM fhash)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        count(*)::BIGINT AS n_shared
      FROM dh a JOIN dh b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 3
      ORDER BY id_a, id_b""",
    // Media canonicalization: the q154 pixel/hash re-derivation
    // extended with the 2x-upscale class (base coords sx = x//2,
    // cells x//4 — every cell is a uniformly doubled base cell, so
    // counts stay uniform per doc and the mean comparison reduces
    // to the sum comparison), then brute radius-3 pairs, recursive
    // min-reachable-id components, and the (n_px DESC, id) survivor
    // pick per component.
    "q159_media_canonical" -> """
      WITH RECURSIVE px AS (
        SELECT d.doc_id, x.x, y.y,
          CASE WHEN d.doc_id % 3 = 0 THEN x.x // 2 ELSE x.x END AS sx,
          CASE WHEN d.doc_id % 3 = 0 THEN y.y // 2 ELSE y.y END AS sy
        FROM documents d
        CROSS JOIN generate_series(0, 35) AS x(x)
        CROSS JOIN generate_series(0, 31) AS y(y)
        WHERE d.doc_id % 3 = 0 OR (x.x <= 17 AND y.y <= 15)),
      shp AS (
        SELECT doc_id, x, y, sx, sy,
          (CASE WHEN doc_id % 5 = 2 THEN 7 ELSE 0 END +
           CASE WHEN doc_id % 7 = 3 AND sx >= 14 THEN 80 ELSE 0 END)
            AS sh
        FROM px),
      lum AS (
        SELECT doc_id,
          CASE WHEN doc_id % 3 = 0 THEN x // 4 ELSE x // 2 END AS cx,
          CASE WHEN doc_id % 3 = 0 THEN y // 4 ELSE y // 2 END AS cy,
          sum(299 * least(((doc_id % 40) * 3 + sx * 7 + sy * 11) % 248
                + sh, 255)
            + 587 * least(((doc_id % 40) * 5 + sx * 11 + sy * 3) % 248
                + sh, 255)
            + 114 * least(((doc_id % 40) * 7 + sx * 3 + sy * 13) % 248
                + sh, 255)) AS s
        FROM shp GROUP BY 1, 2, 3),
      bits AS (
        SELECT a.doc_id, (a.cy * 8 + a.cx)::INT AS bit
        FROM lum a JOIN lum b
          ON a.doc_id = b.doc_id AND b.cy = a.cy AND b.cx = a.cx + 1
        WHERE a.s < b.s),
      hash AS (
        SELECT d.doc_id,
          coalesce(sum(CASE WHEN bit = 63
            THEN (-9223372036854775807 - 1)
            ELSE (1::BIGINT << bit) END), 0)::BIGINT AS h
        FROM documents d LEFT JOIN bits USING (doc_id)
        GROUP BY d.doc_id),
      pr AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM hash a JOIN hash b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.h, b.h)) <= 3),
      edges AS (SELECT id_a AS src, id_b AS dst FROM pr
                UNION SELECT id_b, id_a FROM pr),
      reach(id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
      comp AS (SELECT id AS doc_id, min(r) AS component
               FROM reach GROUP BY id),
      qual AS (SELECT doc_id,
          (CASE WHEN doc_id % 3 = 0 THEN 1152 ELSE 288 END)::BIGINT
            AS n_px
        FROM documents),
      rk AS (SELECT c.doc_id, c.component, q.n_px,
          row_number() OVER (PARTITION BY c.component
            ORDER BY q.n_px DESC, c.doc_id) AS rn
        FROM comp c JOIN qual q USING (doc_id)),
      sv AS (SELECT component, doc_id AS survivor FROM rk WHERE rn = 1)
      SELECT r.doc_id, r.component, s.survivor,
        (r.doc_id = s.survivor) AS keep, r.n_px
      FROM rk r JOIN sv s USING (component)
      ORDER BY r.doc_id""",
    // Streaming image near-dedup close-out: the q154 hash
    // re-derivation over original ∪ re-send ids (re-sends hash via
    // eff = doc_id - 1,000,000 — a PNG re-encode has identical
    // pixels), then the batch band restatement: 4 rotated 16-bit
    // words per hash (arithmetic shift + mask == logical shift for
    // the masked low word), survivor = no word claimed by a lower
    // id.
    "q162_streaming_image_neardup" -> """
      WITH ids AS (
        SELECT doc_id FROM documents
        UNION ALL
        SELECT doc_id + 1000000 FROM documents WHERE doc_id >= 250),
      eff AS (SELECT doc_id,
          CASE WHEN doc_id >= 1000000 THEN doc_id - 1000000
               ELSE doc_id END AS e
        FROM ids),
      px AS (
        SELECT i.doc_id, i.e, x.x, y.y,
          (CASE WHEN i.e % 5 = 2 THEN 7 ELSE 0 END +
           CASE WHEN i.e % 7 = 3 AND x.x >= 14 THEN 80 ELSE 0 END)
            AS sh
        FROM eff i
        CROSS JOIN generate_series(0, 17) AS x(x)
        CROSS JOIN generate_series(0, 15) AS y(y)),
      lum AS (
        SELECT doc_id, x // 2 AS cx, y // 2 AS cy,
          sum(299 * least(((e % 40) * 3 + x * 7 + y * 11) % 248
                + sh, 255)
            + 587 * least(((e % 40) * 5 + x * 11 + y * 3) % 248
                + sh, 255)
            + 114 * least(((e % 40) * 7 + x * 3 + y * 13) % 248
                + sh, 255)) AS s
        FROM px GROUP BY doc_id, x // 2, y // 2),
      bits AS (
        SELECT a.doc_id, (a.cy * 8 + a.cx)::INT AS bit
        FROM lum a JOIN lum b
          ON a.doc_id = b.doc_id AND b.cy = a.cy AND b.cx = a.cx + 1
        WHERE a.s < b.s),
      hash AS (
        SELECT i.doc_id,
          coalesce(sum(CASE WHEN bit = 63
            THEN (-9223372036854775807 - 1)
            ELSE (1::BIGINT << bit) END), 0)::BIGINT AS h
        FROM ids i LEFT JOIN bits USING (doc_id)
        GROUP BY i.doc_id),
      bands AS (
        SELECT doc_id, b.b AS band, (h >> (b.b * 16)) & 65535 AS key
        FROM hash CROSS JOIN range(0, 4) AS b(b)),
      matched AS (
        SELECT DISTINCT a.doc_id FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key
          AND b.doc_id < a.doc_id)
      SELECT doc_id FROM ids
      WHERE doc_id NOT IN (SELECT doc_id FROM matched)
      ORDER BY doc_id""",
    // Video canonicalization: the q158 frame-hash chain verbatim
    // (pixels -> 2x2 luma cells -> packed sign bits -> distinct
    // per-video hash sets -> shared-count pairs at minShared 3),
    // then recursive min-reachable-id components over the pair
    // edges and the (n_frames DESC, id) survivor pick. n_frames is
    // fixture arithmetic (4-frame cut at doc_id % 7 = 3, else 6) --
    // identical to what videoDecodeAudit counts off the scan, since
    // every corpus video decodes.
    "q163_video_canonical" -> """
      WITH RECURSIVE fr AS (
        SELECT doc_id,
          CASE WHEN doc_id % 7 = 3 THEN 4 ELSE 6 END AS nf
        FROM documents),
      dfr AS (
        SELECT doc_id, f.f FROM fr
        CROSS JOIN generate_series(0, 5) AS f(f) WHERE f.f < nf),
      px AS (
        SELECT d.doc_id, d.f, x.x, y.y,
          CASE WHEN d.doc_id % 3 = 1 AND d.f = 0 THEN 40
               ELSE ((d.doc_id % 40) * 3 + d.f * 17 + x.x * 7
                 + y.y * 11) % 248
                 + CASE WHEN d.doc_id % 5 = 2 THEN 7 ELSE 0 END
          END AS r,
          CASE WHEN d.doc_id % 3 = 1 AND d.f = 0 THEN 40
               ELSE ((d.doc_id % 40) * 5 + d.f * 13 + x.x * 11
                 + y.y * 3) % 248
                 + CASE WHEN d.doc_id % 5 = 2 THEN 7 ELSE 0 END
          END AS g,
          CASE WHEN d.doc_id % 3 = 1 AND d.f = 0 THEN 40
               ELSE ((d.doc_id % 40) * 7 + d.f * 19 + x.x * 3
                 + y.y * 13) % 248
                 + CASE WHEN d.doc_id % 5 = 2 THEN 7 ELSE 0 END
          END AS b
        FROM dfr d
        CROSS JOIN generate_series(0, 17) AS x(x)
        CROSS JOIN generate_series(0, 15) AS y(y)),
      lum AS (
        SELECT doc_id, f, x // 2 AS cx, y // 2 AS cy,
          sum(299 * r + 587 * g + 114 * b) AS s
        FROM px GROUP BY doc_id, f, x // 2, y // 2),
      vbits AS (
        SELECT a.doc_id, a.f, (a.cy * 8 + a.cx)::INT AS bit
        FROM lum a JOIN lum b
          ON a.doc_id = b.doc_id AND a.f = b.f AND b.cy = a.cy
          AND b.cx = a.cx + 1
        WHERE a.s < b.s),
      fhash AS (
        SELECT d.doc_id, d.f,
          coalesce(sum(CASE WHEN bit = 63
            THEN (-9223372036854775807 - 1)
            ELSE (1::BIGINT << bit) END), 0)::BIGINT AS h
        FROM dfr d LEFT JOIN vbits
          ON d.doc_id = vbits.doc_id AND d.f = vbits.f
        GROUP BY d.doc_id, d.f),
      dh AS (SELECT DISTINCT doc_id, h FROM fhash),
      pr AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM dh a JOIN dh b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 3),
      edges AS (SELECT id_a AS src, id_b AS dst FROM pr
                UNION SELECT id_b, id_a FROM pr),
      reach(id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
      comp AS (SELECT id AS doc_id, min(r) AS component
               FROM reach GROUP BY id),
      rk AS (SELECT c.doc_id, c.component, fr.nf::BIGINT AS n_frames,
          row_number() OVER (PARTITION BY c.component
            ORDER BY fr.nf DESC, c.doc_id) AS rn
        FROM comp c JOIN fr USING (doc_id)),
      sv AS (SELECT component, doc_id AS survivor FROM rk WHERE rn = 1)
      SELECT r.doc_id, r.component, s.survivor,
        (r.doc_id = s.survivor) AS keep, r.n_frames
      FROM rk r JOIN sv s USING (component)
      ORDER BY r.doc_id""",
    // Streaming audio near-dedup close-out: the q157 fingerprint
    // re-derivation over original ∪ re-send ids (re-sends carry the
    // BASE signal at gain 2 — amplitude scaling cancels in the
    // cross-multiplied energy comparison, so hash(re-send) ==
    // hash(original)), then the same batch band restatement as
    // q162: 4 rotated 16-bit words per hash, survivor = no word
    // claimed by a lower id.
    "q164_streaming_audio_neardup" -> """
      WITH ids AS (
        SELECT doc_id FROM documents
        UNION ALL
        SELECT doc_id + 1000000 FROM documents WHERE doc_id >= 250),
      eff AS (SELECT doc_id,
          CASE WHEN doc_id >= 1000000 THEN doc_id - 1000000
               ELSE doc_id END AS ef,
          CASE WHEN doc_id >= 1000000 THEN 2
               WHEN doc_id % 5 = 2 THEN 2 ELSE 1 END AS gain
        FROM ids),
      smp AS (
        SELECT d.doc_id, i.i,
          (CASE WHEN d.ef % 7 = 3 AND i.i < 32 THEN 1000
                ELSE ('0x' || substr(md5((d.ef % 40)::VARCHAR
                  || ':' || i.i::VARCHAR), 1, 4))::INT % 32768
                  - 16384 END)
          * d.gain AS s
        FROM eff d
        CROSS JOIN generate_series(0, 255) AS i(i)),
      fr AS (
        SELECT doc_id, (i * 65) // 256 AS f,
          sum(abs(s)) AS e, count(*) AS c
        FROM smp GROUP BY doc_id, (i * 65) // 256),
      bits AS (
        SELECT a.doc_id, a.f::INT AS bit
        FROM fr a JOIN fr b
          ON a.doc_id = b.doc_id AND b.f = a.f + 1
        WHERE a.e * b.c < b.e * a.c),
      hash AS (
        SELECT i.doc_id,
          coalesce(sum(CASE WHEN bit = 63
            THEN (-9223372036854775807 - 1)
            ELSE (1::BIGINT << bit) END), 0)::BIGINT AS h
        FROM ids i LEFT JOIN bits USING (doc_id)
        GROUP BY i.doc_id),
      bands AS (
        SELECT doc_id, b.b AS band, (h >> (b.b * 16)) & 65535 AS key
        FROM hash CROSS JOIN range(0, 4) AS b(b)),
      matched AS (
        SELECT DISTINCT a.doc_id FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key
          AND b.doc_id < a.doc_id)
      SELECT doc_id FROM ids
      WHERE doc_id NOT IN (SELECT doc_id FROM matched)
      ORDER BY doc_id""",
    // Dual-lens pairs: ONE per-pixel luma frame feeds both hash
    // re-derivations — dHash over uniform 2x2 cells (sum compare),
    // aHash over (x*8)//18 columns whose widths differ, so the mean
    // comparison cross-multiplies by cell count against the global
    // sum (s*288 > st*c, the ahash64 contract verbatim) — then brute
    // pair sets per lens and a full outer join with the agreement
    // class.
    "q161_dual_lens" -> """
      WITH px AS (
        SELECT d.doc_id, x.x, y.y,
          (CASE WHEN d.doc_id % 5 = 2 THEN 7 ELSE 0 END +
           CASE WHEN d.doc_id % 7 = 3 AND x.x >= 14 THEN 80 ELSE 0 END)
            AS sh
        FROM documents d
        CROSS JOIN generate_series(0, 17) AS x(x)
        CROSS JOIN generate_series(0, 15) AS y(y)),
      pl AS (
        SELECT doc_id, x, y,
          299 * least(((doc_id % 40) * 3 + x * 7 + y * 11) % 248
              + sh, 255)
          + 587 * least(((doc_id % 40) * 5 + x * 11 + y * 3) % 248
              + sh, 255)
          + 114 * least(((doc_id % 40) * 7 + x * 3 + y * 13) % 248
              + sh, 255) AS l
        FROM px),
      dlum AS (SELECT doc_id, x // 2 AS cx, y // 2 AS cy, sum(l) AS s
        FROM pl GROUP BY 1, 2, 3),
      dbits AS (SELECT a.doc_id, (a.cy * 8 + a.cx)::INT AS bit
        FROM dlum a JOIN dlum b ON a.doc_id = b.doc_id
          AND b.cy = a.cy AND b.cx = a.cx + 1
        WHERE a.s < b.s),
      dhash AS (SELECT d.doc_id,
          coalesce(sum(CASE WHEN bit = 63
            THEN (-9223372036854775807 - 1)
            ELSE (1::BIGINT << bit) END), 0)::BIGINT AS h
        FROM documents d LEFT JOIN dbits USING (doc_id)
        GROUP BY d.doc_id),
      alum AS (SELECT doc_id, (x * 8) // 18 AS cx, y // 2 AS cy,
          sum(l) AS s, count(*) AS c
        FROM pl GROUP BY 1, 2, 3),
      atot AS (SELECT doc_id, sum(s) AS st FROM alum GROUP BY doc_id),
      abits AS (SELECT l.doc_id, (l.cy * 8 + l.cx)::INT AS bit
        FROM alum l JOIN atot t USING (doc_id)
        WHERE l.s * 288 > t.st * l.c),
      ahash AS (SELECT d.doc_id,
          coalesce(sum(CASE WHEN bit = 63
            THEN (-9223372036854775807 - 1)
            ELSE (1::BIGINT << bit) END), 0)::BIGINT AS h
        FROM documents d LEFT JOIN abits USING (doc_id)
        GROUP BY d.doc_id),
      dp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          bit_count(xor(a.h, b.h))::INT AS hdist_dhash
        FROM dhash a JOIN dhash b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.h, b.h)) <= 3),
      ap AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          bit_count(xor(a.h, b.h))::INT AS hdist_ahash
        FROM ahash a JOIN ahash b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.h, b.h)) <= 3)
      SELECT coalesce(d.id_a, a.id_a) AS id_a,
        coalesce(d.id_b, a.id_b) AS id_b,
        d.hdist_dhash, a.hdist_ahash,
        CASE WHEN d.id_a IS NOT NULL AND a.id_a IS NOT NULL THEN 'both'
             WHEN d.id_a IS NOT NULL THEN 'dhash_only'
             ELSE 'ahash_only' END AS agreement
      FROM dp d FULL OUTER JOIN ap a
        ON d.id_a = a.id_a AND d.id_b = a.id_b
      ORDER BY id_a, id_b""",
    // Decode-verdict audit: pure residue arithmetic — the two
    // undecodable classes report (0, false), decodable videos the
    // stride-2 sampled-frame count (frame 0 always sampled).
    "q160_video_decode_audit" -> """
      SELECT doc_id,
        (CASE WHEN doc_id % 11 = 5 OR doc_id % 13 = 7 THEN 0
              WHEN doc_id % 7 = 3 THEN 2 ELSE 3 END)::BIGINT
          AS n_frames,
        (doc_id % 11 <> 5 AND doc_id % 13 <> 7) AS decoded
      FROM documents ORDER BY doc_id""",
    // Streaming rank-sketch close-out: the q151 batch replay plus
    // the per-group exact value-count watermark.
    "q152_streaming_rank" -> (tokCte + """,
      vt AS (SELECT coalesce(d.lang, '') AS grp,
          len(tk.toks)::BIGINT AS v
        FROM tk JOIN documents d USING (doc_id)),
      tot AS (SELECT grp, count(*)::BIGINT AS n_total FROM vt
        GROUP BY grp)
      SELECT grp AS "group", length(v::VARCHAR)::INT AS digits,
        substr(v::VARCHAR, 1, 2)::BIGINT AS lead,
        count(*)::BIGINT AS n, t.n_total
      FROM vt JOIN tot t USING (grp)
      GROUP BY 1, 2, 3, 5
      ORDER BY "group", digits, lead"""),
    // Streaming CM close-out: the q147 batch replay (sum-merge) with
    // the same exact-total parity column.
    "q150_streaming_cm" -> (tokCte + """,
      occ AS (SELECT coalesce(d.lang, '') AS grp,
          unnest(tk.toks) AS token
        FROM tk JOIN documents d USING (doc_id)),
      tot AS (SELECT grp, count(*)::BIGINT AS n_total FROM occ
        GROUP BY grp)
      SELECT o.grp AS "group", r.r AS "row",
        ('0x' || substr(md5(r.r::VARCHAR || ':' || token), 1, 3))::BIGINT
          AS col,
        count(*)::BIGINT AS n, t.n_total
      FROM occ o CROSS JOIN range(0, 4) r(r) JOIN tot t USING (grp)
      GROUP BY 1, 2, 3, 5
      ORDER BY "group", "row", col"""),
    "q145_streaming_vocab" -> (tokCte + """,
      occ AS (SELECT coalesce(d.lang, '') AS lang,
          unnest(tk.toks) AS token
        FROM tk JOIN documents d USING (doc_id)),
      tot AS (SELECT lang, count(*)::BIGINT AS n_total FROM occ
        GROUP BY lang)
      SELECT o.lang, o.token, count(*)::BIGINT AS n_tok, t.n_total
      FROM occ o JOIN tot t USING (lang)
      GROUP BY o.lang, o.token, t.n_total
      HAVING count(*) * 100 > t.n_total
      ORDER BY lang, token"""),
    "q143_novelty" -> (shingleCte + """,
      f AS (SELECT shingle, min(doc_id) AS first_id FROM sh
            GROUP BY shingle)
      SELECT sh.doc_id, count(*)::BIGINT AS n_shingles,
        sum(CASE WHEN f.first_id = sh.doc_id THEN 1 ELSE 0
          END)::BIGINT AS n_novel
      FROM sh JOIN f USING (shingle)
      GROUP BY sh.doc_id ORDER BY sh.doc_id"""),
    // PMI collocations: sentinel-free bigram pairs, marginals over
    // the same table, the two-stage integer key, rank cut at 30.
    "q142_pmi_collocations" -> (tokCte + """,
      pp AS (SELECT doc_id, unnest(list_transform(range(2, len(toks)+1),
            i -> {'v': toks[i-1], 'w': toks[i]})) AS p FROM tk),
      pr AS (SELECT p.v AS v, p.w AS w FROM pp),
      bi AS (SELECT v, w, count(*)::BIGINT AS c_vw FROM pr
             GROUP BY v, w HAVING count(*) >= 5),
      ctx AS (SELECT v, count(*)::BIGINT AS c_v FROM pr GROUP BY v),
      tgt AS (SELECT w, count(*)::BIGINT AS c_w FROM pr GROUP BY w),
      sc AS (SELECT bi.v, bi.w, c_vw, c_v, c_w,
          ((c_vw * 1000000 // c_v) * 1000000 // c_w)::BIGINT
            AS pmi_key
        FROM bi JOIN ctx USING (v) JOIN tgt USING (w)),
      rk AS (SELECT *, row_number() OVER (ORDER BY pmi_key DESC,
            c_vw DESC, v, w) AS rank
        FROM sc)
      SELECT rank::INT AS rank, v, w, c_vw, c_v, c_w, pmi_key
      FROM rk WHERE rank <= 30 ORDER BY rank"""),
    // n-gram diversity: the non-distinct trigram stream per source
    // (docs under 3 tokens contribute nothing), then total + distinct
    // counts per group.
    "q141_ngram_diversity" -> (tokCte + """,
      g AS (SELECT coalesce(d.source, '') AS "group",
          unnest(CASE WHEN len(toks) >= 3
            THEN list_transform(range(1, len(toks) - 1),
              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
            ELSE [] END) AS gram
        FROM tk JOIN documents d ON tk.doc_id = d.doc_id)
      SELECT "group", count(*)::BIGINT AS n_ngrams,
             count(DISTINCT gram)::BIGINT AS n_distinct
      FROM g GROUP BY 1 ORDER BY 1"""),
    // Heavy hitters: exact GROUP BY/HAVING over the shared tokenizer
    // (the MG summary is a superset filter only; the recount decides,
    // so plain SQL replays the result exactly).
    "q138_heavy_hitters" -> (tokCte + """,
      t AS (SELECT unnest(toks) AS token FROM tk),
      tot AS (SELECT count(*)::BIGINT AS n FROM t)
      SELECT token, count(*)::BIGINT AS n_tok,
        (SELECT n FROM tot) AS n_total
      FROM t GROUP BY token
      HAVING count(*) * 100 > (SELECT n FROM tot)
      ORDER BY token"""),
    // Streaming budget-fill replay: per-lang inclusive running token
    // totals in doc_id order, the budgets map (absent -> default
    // 500), and the exclusive-prefix admission rule.
    "q134_streaming_budget" -> (tokCte + """,
      d AS (SELECT tk.doc_id, coalesce(d0.lang, '') AS lang,
          len(toks)::BIGINT AS n_tok
        FROM tk JOIN documents d0 ON tk.doc_id = d0.doc_id),
      c AS (SELECT doc_id, lang, n_tok,
          (sum(n_tok) OVER (PARTITION BY lang
            ORDER BY doc_id))::BIGINT AS cum_tokens,
          (CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500
            WHEN 'fr' THEN 2500 WHEN 'es' THEN 1000
            ELSE 500 END)::BIGINT AS budget
        FROM d)
      SELECT doc_id, lang, n_tok, cum_tokens, budget,
             (cum_tokens - n_tok < budget) AS selected
      FROM c ORDER BY doc_id"""),
    // Group-split replay: char-weighted group sums, md5-coordinate
    // order, exclusive prefix vs the exact integer cuts
    // floor(total*4/5) and floor(total*9/10).
    "q126_group_split" -> """
      WITH g AS (SELECT coalesce(source, '') AS src,
          sum(n_chars)::BIGINT AS sz
        FROM documents GROUP BY 1),
      o AS (SELECT src, sz,
          ('0x' || substr(md5('split:' || src), 1, 8))::BIGINT
            / 4294967296.0 AS h
        FROM g),
      p AS (SELECT src, sz,
          coalesce(sum(sz) OVER (ORDER BY h, src
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            0)::BIGINT AS pfx,
          (sum(sz) OVER ())::BIGINT AS total
        FROM o),
      a AS (SELECT src,
          CASE WHEN pfx < total * 4 // 5 THEN 'train'
               WHEN pfx < total * 9 // 10 THEN 'val'
               ELSE 'test' END AS split
        FROM p)
      SELECT d.doc_id, d.source, a.split
      FROM documents d JOIN a ON coalesce(d.source, '') = a.src
      ORDER BY d.doc_id""",
    // q109's IVFADC replay + ONE full-vector Lloyd round on the
    // coarse centroids: assignment against the seed sample, per-dim
    // (2s+n) // (2n) means over each list's members, empty lists
    // keep their seed; everything downstream reads the refined set.
    "q125_ivfpq_lloyd" -> """
      WITH e AS (SELECT vec_id AS id,
          list_transform(embedding::DOUBLE[],
            x -> CAST(floor(x * 1048576.0 + 0.5) AS BIGINT) + 2097152)
            AS qv
        FROM embeddings),
      subs AS (SELECT unnest(range(0, 4)) AS sub),
      seed AS (SELECT row_number() OVER (ORDER BY id) - 1 AS j, qv
               FROM e ORDER BY id LIMIT 8),
      cb AS (SELECT sub, j,
          list_slice(qv, sub * 16 + 1, sub * 16 + 16) AS cv
        FROM seed CROSS JOIN subs),
      cent0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS c_idx,
          qv AS cqv
        FROM e WHERE id % greatest(1,
          (SELECT count(*) FROM embeddings) // 20) = 0),
      a0 AS (SELECT id, c_idx, qv, row_number() OVER (PARTITION BY id
            ORDER BY list_aggregate(list_transform(range(1, 65),
              i -> abs(qv[i] - cqv[i])), 'sum') ASC, c_idx ASC) AS r
        FROM e CROSS JOIN cent0),
      cstats AS (SELECT c_idx AS cl, d.i AS dim,
          sum(qv[d.i])::BIGINT AS s, count(*)::BIGINT AS n
        FROM (SELECT * FROM a0 WHERE r = 1) a
        CROSS JOIN range(1, 65) d(i)
        GROUP BY c_idx, d.i),
      cent AS (SELECT c0.c_idx, coalesce(m.nv, c0.cqv) AS cqv
        FROM cent0 c0 LEFT JOIN (
          SELECT cl, list((2 * s + n) // (2 * n) ORDER BY dim) AS nv
          FROM cstats GROUP BY cl) m ON c0.c_idx = m.cl),
      lst AS (SELECT id, c_idx, row_number() OVER (PARTITION BY id
            ORDER BY list_aggregate(list_transform(range(1, 65),
              i -> abs(qv[i] - cqv[i])), 'sum') ASC, c_idx ASC) AS r
        FROM e CROSS JOIN cent),
      lists AS (SELECT id AS n_id, c_idx AS list_id FROM lst
                WHERE r = 1),
      sv AS (SELECT id, sub,
          list_slice(qv, sub * 16 + 1, sub * 16 + 16) AS ssv
        FROM e CROSS JOIN subs),
      enc AS (SELECT id, sub, j AS code FROM (
          SELECT sv.id, sv.sub, cb.j, row_number() OVER (
              PARTITION BY sv.id, sv.sub ORDER BY
              list_aggregate(list_transform(range(1, 17),
                i -> abs(ssv[i] - cv[i])), 'sum') ASC, j ASC) AS r
          FROM sv JOIN cb USING (sub)) WHERE r = 1),
      probe AS (SELECT id AS q_id, c_idx AS list_id FROM lst
                WHERE id < 5 AND r <= 2),
      cand AS (SELECT p.q_id, l.n_id FROM probe p
        JOIN lists l USING (list_id) WHERE p.q_id <> l.n_id),
      q AS (SELECT id AS q_id, sub, ssv AS qsv FROM sv WHERE id < 5),
      d AS (SELECT c.q_id, c.n_id,
          sum(list_aggregate(list_transform(range(1, 17),
            i -> abs(qsv[i] - cv[i])), 'sum'))::BIGINT AS adist
        FROM cand c
        JOIN q ON q.q_id = c.q_id
        JOIN enc ON enc.id = c.n_id AND enc.sub = q.sub
        JOIN cb ON cb.sub = enc.sub AND cb.j = enc.code
        GROUP BY c.q_id, c.n_id),
      rk AS (SELECT q_id, n_id, adist, row_number() OVER (
            PARTITION BY q_id ORDER BY adist ASC, n_id ASC) AS rank
        FROM d)
      SELECT q_id, rank::INT AS rank, n_id, adist
      FROM rk WHERE rank <= 5 ORDER BY q_id, rank""",
    // WFQ finish-time replay: per-lang token cumsum (exclusive, in
    // doc_id order), key = ((2cum+n_tok) // 2w)*8 +
    // (((2cum+n_tok) % 2w)*8) // 2w, global row_number by
    // (key, lang, mix_k).
    "q124_token_interleave" -> (tokCte + """,
      d AS (SELECT tk.doc_id, d0.lang, len(toks)::BIGINT AS n_tok
        FROM tk JOIN documents d0 ON tk.doc_id = d0.doc_id),
      w(lang, wr) AS (VALUES ('en', 4), ('de', 2), ('fr', 2),
                             ('es', 1), ('zh', 1)),
      k AS (SELECT doc_id, d.lang, n_tok, wr::BIGINT AS wr,
              row_number() OVER (PARTITION BY d.lang
                ORDER BY doc_id) AS mix_k,
              coalesce(sum(n_tok) OVER (PARTITION BY d.lang
                ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0)::BIGINT AS cum
            FROM d JOIN w ON d.lang = w.lang),
      ky AS (SELECT doc_id, lang, n_tok, mix_k,
              ((2*cum + n_tok) // (2*wr)) * 8 +
                (((2*cum + n_tok) % (2*wr)) * 8) // (2*wr) AS mix_key
             FROM k)
      SELECT doc_id, lang, n_tok, mix_k::BIGINT AS mix_k,
             mix_key::BIGINT AS mix_key,
             row_number() OVER (ORDER BY mix_key, lang, mix_k)::BIGINT
               AS seq
      FROM ky ORDER BY doc_id"""),
    // The streaming stamp is bit-identical to the batch stride
    // schedule when drained in id order, so the oracle is q121's
    // replay without the read-side seq.
    "q123_streaming_interleave" -> """
      WITH w(lang, wr) AS (VALUES ('en', 4), ('de', 2), ('fr', 2),
                                  ('es', 1), ('zh', 1)),
      k AS (SELECT doc_id, d.lang, wr::BIGINT AS wr,
              row_number() OVER (PARTITION BY d.lang
                ORDER BY doc_id) AS mix_k
            FROM documents d JOIN w ON d.lang = w.lang),
      ky AS (SELECT doc_id, lang, mix_k,
              ((2*mix_k - 1) // (2*wr)) * 8 +
                (((2*mix_k - 1) % (2*wr)) * 8) // (2*wr) AS mix_key
             FROM k)
      SELECT doc_id, lang, mix_k::BIGINT AS mix_k,
             mix_key::BIGINT AS mix_key
      FROM ky ORDER BY doc_id""",
    // OPQ-permutation replay: per-dimension quantized spans (one
    // min/max pass), (span DESC, dim ASC) rank, snake deal into the
    // 4 subspaces, gather — then q108's PQ replay verbatim over the
    // permuted vectors.
    "q122_opq_pq_ann" -> """
      WITH raw AS (SELECT vec_id AS id,
          list_transform(embedding::DOUBLE[],
            x -> CAST(floor(x * 1048576.0 + 0.5) AS BIGINT) + 2097152)
            AS qv0
        FROM embeddings),
      dims AS (SELECT d.i AS dim,
          max(qv0[d.i]) - min(qv0[d.i]) AS span
        FROM raw CROSS JOIN range(1, 65) d(i)
        GROUP BY d.i),
      sprank AS (SELECT dim,
          row_number() OVER (ORDER BY span DESC, dim ASC) - 1 AS r
        FROM dims),
      perm AS (SELECT list(dim ORDER BY sub ASC, dim ASC) AS p FROM (
          SELECT dim, CASE WHEN (r // 4) % 2 = 0 THEN r % 4
                           ELSE 3 - (r % 4) END AS sub
          FROM sprank)),
      e AS (SELECT id, list_transform(p, i -> qv0[i]) AS qv
        FROM raw CROSS JOIN perm),
      subs AS (SELECT unnest(range(0, 4)) AS sub),
      seed AS (SELECT row_number() OVER (ORDER BY id) - 1 AS j, qv
               FROM e ORDER BY id LIMIT 4),
      cb0 AS (SELECT sub, j,
          list_slice(qv, sub * 16 + 1, sub * 16 + 16) AS cv
        FROM seed CROSS JOIN subs),
      sv AS (SELECT id, sub,
          list_slice(qv, sub * 16 + 1, sub * 16 + 16) AS ssv
        FROM e CROSS JOIN subs),
      a0 AS (SELECT id, sub, j, ssv, row_number() OVER (
            PARTITION BY id, sub ORDER BY
            list_aggregate(list_transform(range(1, 17),
              i -> abs(ssv[i] - cv[i])), 'sum') ASC, j ASC) AS r
        FROM sv JOIN cb0 USING (sub)),
      stats AS (SELECT sub, j AS cl, d.i AS dim,
          sum(ssv[d.i])::BIGINT AS s, count(*)::BIGINT AS n
        FROM (SELECT * FROM a0 WHERE r = 1) a
        CROSS JOIN range(1, 17) d(i)
        GROUP BY sub, j, d.i),
      cb1 AS (SELECT c0.sub, c0.j,
          coalesce(m.nv, c0.cv) AS cv
        FROM cb0 c0 LEFT JOIN (
          SELECT sub, cl, list((2 * s + n) // (2 * n) ORDER BY dim) AS nv
          FROM stats GROUP BY sub, cl) m
        ON c0.sub = m.sub AND c0.j = m.cl),
      enc AS (SELECT id, sub, j AS code FROM (
          SELECT sv.id, sv.sub, cb1.j, row_number() OVER (
              PARTITION BY sv.id, sv.sub ORDER BY
              list_aggregate(list_transform(range(1, 17),
                i -> abs(ssv[i] - cv[i])), 'sum') ASC, j ASC) AS r
          FROM sv JOIN cb1 USING (sub)) WHERE r = 1),
      q AS (SELECT id AS q_id, sub, ssv AS qsv FROM sv WHERE id < 5),
      d AS (SELECT q.q_id, enc.id AS n_id,
          sum(list_aggregate(list_transform(range(1, 17),
            i -> abs(qsv[i] - cv[i])), 'sum'))::BIGINT AS adist
        FROM q JOIN enc ON q.sub = enc.sub AND q.q_id <> enc.id
        JOIN cb1 ON cb1.sub = enc.sub AND cb1.j = enc.code
        GROUP BY q.q_id, enc.id),
      rk AS (SELECT q_id, n_id, adist, row_number() OVER (
            PARTITION BY q_id ORDER BY adist ASC, n_id ASC) AS rank
        FROM d)
      SELECT q_id, rank::INT AS rank, n_id, adist
      FROM rk WHERE rank <= 5 ORDER BY q_id, rank""",
    // The PQ/SDC variant is OUTPUT-IDENTICAL to q87 by construction
    // (exact-recall prefilter + exact rescore), so it is pinned
    // against the very same replay — any recall loss in the SDC
    // bound hash-mismatches here.
    "q113_semdedup_pq" -> semdedupOracle,
    // Full CCNet-style LM chain re-derived: position pairs with the
    // <s> sentinel context, reference count tables (ref = doc_id%10<3),
    // JM interpolation with dyadic 0.75/(1.0-0.75), micro-nat floor
    // quantization per bigram TYPE, exact BIGINT doc totals, rnd6
    // perplexity. Mirrors LmOps.perplexity term for term.
    "q88_lm_perplexity" -> (lmCte + """
      SELECT doc_id, n_tok, nll_micro, ppl FROM outq
      ORDER BY doc_id"""),
    // q88's chain + CCNet head/middle/tail binning: tercile cuts are
    // RANK statistics of the deterministic md5-coordinate sample
    // (rate = least(1, 400/N)), value at 1-based rank ceil(p*m) under
    // (ppl, doc_id) — mirrors SampleOps.sampleRankCuts exactly.
    "q91_ppl_buckets" -> (lmCte + """,
      samp AS (SELECT ppl, doc_id,
          row_number() OVER (ORDER BY ppl, doc_id) AS r,
          count(*) OVER () AS m
        FROM outq
        WHERE ppl IS NOT NULL
          AND ('0x' || substr(md5('qs:' || doc_id::VARCHAR), 1, 8))::BIGINT
              / 4294967296.0
            < least(1.0, 400.0 / (SELECT count(*) FROM documents))),
      cuts AS (SELECT
          max(CASE WHEN r = ceil((1.0/3) * m) THEN ppl END) AS c1,
          max(CASE WHEN r = ceil((2.0/3) * m) THEN ppl END) AS c2
        FROM samp)
      SELECT doc_id, n_tok, nll_micro, ppl,
        CASE WHEN ppl IS NULL THEN NULL
             WHEN ppl <= c1 THEN 'head'
             WHEN ppl <= c2 THEN 'middle'
             ELSE 'tail' END AS bucket
      FROM outq CROSS JOIN cuts ORDER BY doc_id"""),
    // Winnowing re-derived: cleaned char stream, 5-gram base-31
    // polynomial hashes (seed 11, mod 2^31 per step, final
    // golden-ratio multiplicative mix — exact BIGINT throughout),
    // window-4 rightmost-min selection (the nested-lambda
    // min/filter/max), DISTINCT after unnest.
    "q92_winnow_fp" -> """
      WITH s AS (SELECT doc_id,
          regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS cs
        FROM documents),
      hs AS (SELECT doc_id,
          CASE WHEN len(cs) >= 5 THEN
            list_transform(range(1, len(cs) - 5 + 2), i ->
              {'h': ((((((((((11::BIGINT*31
                   + ascii(substr(cs, i,   1))) % 2147483648)*31
                   + ascii(substr(cs, i+1, 1))) % 2147483648)*31
                   + ascii(substr(cs, i+2, 1))) % 2147483648)*31
                   + ascii(substr(cs, i+3, 1))) % 2147483648)*31
                   + ascii(substr(cs, i+4, 1))) % 2147483648)
                   * 2654435761 % 2147483648,
               'pos': i::BIGINT})
          ELSE [] END AS hv
        FROM s),
      wins AS (SELECT doc_id,
          -- range() is end-EXCLUSIVE: +1 so the last window survives
          list_transform(range(1, greatest(len(hv) - 4 + 1, 1) + 1), p ->
            hv[p:p+3]) AS wv
        FROM hs WHERE len(hv) >= 1),
      sel AS (SELECT doc_id, list_transform(wv, win ->
          {'h': list_min(list_transform(win, x -> x.h)),
           'pos': list_max(list_transform(list_filter(win,
              x -> x.h = list_min(list_transform(win, y -> y.h))),
              x -> x.pos))}) AS fps
        FROM wins)
      SELECT DISTINCT doc_id, u.pos AS pos, u.h AS fp
      FROM (SELECT doc_id, unnest(fps) AS u FROM sel)
      ORDER BY doc_id, pos, fp""",
    // Line dedup re-derived: the same multi-line view, md5 line keys,
    // participation = token-nonempty, first-occurrence rank under
    // (doc_id, idx), string_agg reassembly in idx order (coalesced —
    // a fully-deduplicated doc reassembles to '' like concat_ws).
    "q93_line_dedup" -> """
      WITH d AS (SELECT doc_id,
          substr(text, 1, 80) || chr(10) || substr(text, 81, 80)
            || chr(10) || substr(text, 161, 1000000) || chr(10)
            || '(c) corpus boilerplate - all rights reserved' AS text
        FROM documents),
      ls AS (SELECT doc_id, string_split(text, chr(10)) AS lv FROM d),
      ln AS (SELECT doc_id, u.idx AS idx, u.line AS line
        FROM (SELECT doc_id, unnest(list_transform(range(1, len(lv)+1),
            i -> {'idx': i - 1, 'line': lv[i]})) AS u FROM ls)),
      fl AS (SELECT doc_id, idx, line, md5(line) AS key,
          len(list_filter(string_split_regex(regexp_replace(lower(line),
            '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '')) > 0
            AS participates
        FROM ln),
      rk AS (SELECT *, CASE WHEN participates THEN row_number() OVER
            (PARTITION BY participates, key ORDER BY doc_id, idx)
          END AS rn FROM fl),
      kp AS (SELECT doc_id, idx, line,
          (NOT participates) OR rn = 1 AS keep FROM rk)
      SELECT doc_id,
        sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        sum(CASE WHEN keep THEN 0 ELSE 1 END)::BIGINT AS n_dropped,
        md5(coalesce(string_agg(CASE WHEN keep THEN line END, chr(10)
          ORDER BY idx) FILTER (WHERE keep), '')) AS out_md5
      FROM kp GROUP BY doc_id ORDER BY doc_id""",
    // Full DSIR chain re-derived: hashed unigram+bigram features
    // (seededHash32 = md5-derived, '7:'-prefixed), add-one bucket
    // distributions of the en-slice target and the raw corpus,
    // micro-quantized per-bucket log-ratios, BIGINT doc weights,
    // md5-coordinate Gumbel draw ((h+0.5)/2^32 strictly inside (0,1)),
    // top-100 under the (key DESC, id ASC) total order.
    "q89_dsir_select" -> (tokCte + """,
      fs AS (SELECT doc_id, unnest(
          flatten(list_transform(range(1, len(toks)+1), i ->
            CASE WHEN i = 1 THEN [toks[i]]
                 ELSE [toks[i], toks[i-1] || ' ' || toks[i]] END))) AS f
        FROM tk),
      fb AS (SELECT doc_id,
          ('0x' || substr(md5('7:' || f), 1, 8))::BIGINT % 256 AS bucket
        FROM fs),
      dc AS (SELECT doc_id, bucket, count(*)::BIGINT AS n
             FROM fb GROUP BY doc_id, bucket),
      pt AS (SELECT bucket, count(*)::BIGINT AS c_p
             FROM fb JOIN documents USING (doc_id)
             WHERE lang = 'en' GROUP BY bucket),
      qt AS (SELECT bucket, sum(n)::BIGINT AS c_q FROM dc GROUP BY bucket),
      tot AS (SELECT
          (SELECT coalesce(sum(c_p), 0) FROM pt)::DOUBLE AS tp,
          (SELECT coalesce(sum(c_q), 0) FROM qt)::DOUBLE AS tq),
      lam AS (SELECT qt.bucket,
          CAST(floor(ln(((coalesce(pt.c_p, 0) + 1.0) / (tot.tp + 256.0))
                   / ((qt.c_q + 1.0) / (tot.tq + 256.0)))
            * 1000000.0 + 0.5) AS BIGINT) AS lam_micro
        FROM qt CROSS JOIN tot LEFT JOIN pt ON qt.bucket = pt.bucket),
      perdoc AS (SELECT dc.doc_id, sum(dc.n)::BIGINT AS n_feat,
          sum(dc.n * lam.lam_micro)::BIGINT AS logw_micro
        FROM dc JOIN lam ON dc.bucket = lam.bucket GROUP BY dc.doc_id),
      keyed AS (SELECT d.doc_id,
          coalesce(n_feat, 0)::BIGINT AS n_feat,
          coalesce(logw_micro, 0)::BIGINT AS logw_micro,
          CAST(floor(-ln(-ln(
              (('0x' || substr(md5('7:g:' || d.doc_id::VARCHAR), 1, 8))::BIGINT
                + 0.5) / 4294967296.0))
            * 1000000.0 + 0.5) AS BIGINT) AS g_micro
        FROM documents d LEFT JOIN perdoc ON d.doc_id = perdoc.doc_id),
      rk AS (SELECT *, logw_micro + g_micro AS key_micro,
          row_number() OVER (ORDER BY logw_micro + g_micro DESC,
            doc_id ASC) AS r
        FROM keyed)
      SELECT doc_id, n_feat, logw_micro, g_micro, key_micro,
             (r <= 100) AS selected
      FROM rk ORDER BY doc_id"""),
    // BM25 re-derived with the arithmetic parenthesized exactly as
    // the Spark side computes it (idf * (tf-part), k1+1 as the same
    // (1.2 + 1.0) double op, dyadic b, avgdl = tot/n first).
    "q90_bm25_topk" -> (tokCte + """,
      tok AS (SELECT doc_id, unnest(toks) AS token FROM tk),
      post AS (SELECT doc_id, token, count(*)::BIGINT AS tf
               FROM tok GROUP BY doc_id, token),
      dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM tk),
      stats AS (SELECT count(*)::BIGINT AS n,
                       coalesce(sum(dl), 0)::BIGINT AS tot FROM dl),
      dfs AS (SELECT token, count(*)::BIGINT AS n_docs
              FROM post GROUP BY token),
      q(query_id, qtext) AS (VALUES
        (1, 'fast merge join'), (2, 'window query sort stream'),
        (3, 'customer order table'), (4, 'slow vector scan')),
      qt AS (SELECT query_id, unnest(list_distinct(list_filter(
            string_split_regex(regexp_replace(lower(qtext),
              '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> ''))) AS token
        FROM q),
      c AS (SELECT qt.query_id, post.doc_id,
          CAST(floor(
            ln(1.0 + ((stats.n - dfs.n_docs + 0.5) / (dfs.n_docs + 0.5)))
            * ((post.tf * (1.2 + 1.0)) / (post.tf + 1.2 * ((1.0 - 0.75)
                + 0.75 * (dl.dl / (stats.tot::DOUBLE / stats.n)))))
            * 1000000.0 + 0.5) AS BIGINT) AS c_micro
        FROM post JOIN qt USING (token) JOIN dfs USING (token)
        JOIN dl USING (doc_id) CROSS JOIN stats),
      s AS (SELECT query_id, doc_id, sum(c_micro)::BIGINT AS score_micro
            FROM c GROUP BY query_id, doc_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY score_micro DESC, doc_id ASC) AS rank FROM s)
      SELECT query_id::BIGINT AS query_id, doc_id, score_micro,
             rank::BIGINT AS rank
      FROM r WHERE rank <= 10 ORDER BY query_id, rank"""),
    "q66_quota_mixing" -> """
      WITH c AS (SELECT doc_id, source,
              ('0x' || substr(md5('q:' || doc_id::VARCHAR), 1, 8))::BIGINT
                / 4294967296.0 AS coord
            FROM documents),
      r AS (SELECT *, row_number() OVER
              (PARTITION BY source ORDER BY coord, doc_id) AS rn
            FROM c)
      SELECT doc_id, source, coord FROM r WHERE rn <= 5
      ORDER BY source, doc_id""",
    // The batch re-derivation of the streaming answer: lag per user
    // over the WHOLE stream — rows whose gap spans the batch cut only
    // match if the checkpointed state carried the last-seen timestamp
    // across runs. epoch_ms/date_trunc('milliseconds') mirror the
    // Timestamp.getTime millisecond truncation on the Spark side.
    "q67_stateful_gaps" -> """
      WITH d AS (SELECT user_id::VARCHAR AS site, ts,
              lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
            FROM events),
      g AS (SELECT site,
              date_trunc('milliseconds', prev_ts) AS gap_start,
              date_trunc('milliseconds', ts) AS gap_end,
              epoch_ms(ts) - epoch_ms(prev_ts) AS dms
            FROM d WHERE prev_ts IS NOT NULL)
      SELECT site, gap_start, gap_end, dms // 1000 AS gap_seconds
      FROM g WHERE dms > 21600000
      ORDER BY site, gap_start""",
    // Full NOAA chain (Meeus) re-derived: Julian day with the integer
    // truncations, declination + equation of time, hour angle at
    // zenith 90.833. `x / 180.0 * pi()` and `x * 180.0 / pi()` mirror
    // Java toRadians/toDegrees op-for-op; floor(x + 0.5) mirrors
    // Math.round. Whole-second outputs absorb trig last-ulp drift.
    "q68_solar_noaa" -> """
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
      FROM j10 ORDER BY site, date""",
    // The selection/rename outcome is fixture-known (2 m chosen over
    // 10 m, Sd dropped, Ta_HMP_2m_Av -> Ta_HMP etc.); values recompute
    // through the same masked-input derivation chain as q62's R side.
    "q69_vis_toa5" -> """
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
      FROM c2 ORDER BY "DATETIME"""",
    // The global-window cumulative sum here is the single-partition
    // shape PackOps.packOffsets avoids; at test SF it is the cleanest
    // oracle for the two-pass distributed layout. Same md5 coordinate
    // as q63 (salt 'pk').
    "q70_seq_packing" -> (tokCte + """,
      n AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
              ('0x' || substr(md5('pk:' || doc_id::VARCHAR), 1, 8))::BIGINT
                / 4294967296.0 AS coord
            FROM tk),
      o AS (SELECT doc_id, n_tokens,
              sum(n_tokens) OVER (ORDER BY coord, doc_id
                ROWS UNBOUNDED PRECEDING)::BIGINT AS end_off
            FROM n),
      sp AS (SELECT doc_id, n_tokens, end_off,
              end_off - n_tokens AS start_off FROM o
            WHERE n_tokens > 0),
      b AS (SELECT *, unnest(range(start_off // 256,
              (end_off - 1) // 256 + 1)) AS block_id FROM sp)
      SELECT block_id, doc_id,
        greatest(start_off - block_id * 256, 0) AS start_in_block,
        least(end_off, block_id * 256 + 256)
          - greatest(start_off, block_id * 256) AS span_tokens,
        start_off, end_off
      FROM b ORDER BY block_id, doc_id"""),
    // q70's layout with the content materialized: per-(block, doc)
    // token slices reassembled in start_in_block order; string_agg
    // with ORDER BY mirrors Spark's array_sort(collect_list(struct)).
    "q73_packed_blocks" -> (tokCte + """,
      n AS (SELECT doc_id, toks, len(toks)::BIGINT AS n_tokens,
              ('0x' || substr(md5('pk:' || doc_id::VARCHAR), 1, 8))::BIGINT
                / 4294967296.0 AS coord
            FROM tk),
      o AS (SELECT doc_id, toks, n_tokens,
              sum(n_tokens) OVER (ORDER BY coord, doc_id
                ROWS UNBOUNDED PRECEDING)::BIGINT AS end_off
            FROM n),
      sp AS (SELECT doc_id, toks, n_tokens, end_off,
              end_off - n_tokens AS start_off FROM o
            WHERE n_tokens > 0),
      b AS (SELECT *, unnest(range(start_off // 256,
              (end_off - 1) // 256 + 1)) AS block_id FROM sp),
      sl AS (SELECT block_id, doc_id,
              greatest(start_off - block_id * 256, 0) AS start_in_block,
              least(end_off, block_id * 256 + 256)
                - greatest(start_off, block_id * 256) AS span,
              array_to_string(list_slice(toks,
                greatest(block_id * 256 - start_off, 0) + 1,
                least(end_off, block_id * 256 + 256) - start_off), ' ')
                AS slice_str
            FROM b)
      SELECT block_id, count(*) AS n_docs,
        sum(span)::BIGINT AS block_tokens,
        md5(string_agg(slice_str, ' ' ORDER BY start_in_block))
          AS content_md5
      FROM sl GROUP BY block_id ORDER BY block_id"""),
    // The manifest re-derived from the RAW table (Spark computes it
    // from the written files): dyadic coordinate × power-of-two shard
    // count is bit-exact in both engines; bit_xor is order-invariant
    // so file order stays out of the contract.
    "q74_shard_export" -> """
      WITH s AS (SELECT doc_id, text,
              floor((('0x' || substr(md5('sh:' || doc_id::VARCHAR), 1, 8))
                ::BIGINT / 4294967296.0) * 16)::INTEGER AS shard
            FROM documents),
      h AS (SELECT shard,
              ('0x' || substr(md5('mf:' || doc_id::VARCHAR || ':'
                || md5(text)), 1, 8))::BIGINT AS h,
              length(text) AS len
            FROM s)
      SELECT shard, count(*) AS n_docs, bit_xor(h) AS content_xor,
        sum(len)::BIGINT AS n_chars
      FROM h GROUP BY shard ORDER BY shard""",
    // floor(w) whole copies + one fractional copy when the coordinate
    // is below frac(w); dyadic fractions (.5/.75/.25) compare
    // bit-identically in both engines. generate_series mirrors the
    // guarded sequence explode (zero-copy rows emit nothing).
    "q75_epoch_mixing" -> """
      WITH c AS (SELECT doc_id, source,
              CASE source WHEN 'src0' THEN 2.5
                          WHEN 'src1' THEN 0.75
                          ELSE 1.25 END AS w,
              ('0x' || substr(md5('ep:' || doc_id::VARCHAR), 1, 8))::BIGINT
                / 4294967296.0 AS coord
            FROM documents),
      n AS (SELECT doc_id, source,
              (floor(w)::BIGINT
                + CASE WHEN coord < w - floor(w) THEN 1 ELSE 0 END)
                AS copies
            FROM c)
      SELECT doc_id, source, unnest(range(0, copies)) AS copy
      FROM n WHERE copies > 0
      ORDER BY doc_id, copy""",
    // Token lines are 8-token chunks (list_slice mirrors Spark's
    // slice), n-grams are NON-distinct (counts are the signal).
    // Integer-exact numerators/denominators divide identically in
    // both engines; rnd-6 absorbs the 1.0-x subtraction ulp.
    "q71_repetition" -> ("""
      WITH d AS (SELECT doc_id,
            CASE WHEN doc_id % 25 = 0
              THEN repeat('lorem ipsum dolor sit amet consectetur '
                || 'adipiscing elit ', (2 + doc_id % 4)::INTEGER)
              ELSE text END AS text
          FROM documents),
      tk AS (SELECT doc_id, list_filter(string_split_regex(
          regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
          x -> x <> '') AS toks
        FROM d)""" + """,
      ln AS (SELECT doc_id, unnest(list_transform(
              range(0, (len(toks) + 7) // 8),
              i -> array_to_string(list_slice(toks, i*8 + 1, i*8 + 8),
                ' '))) AS line
            FROM tk WHERE len(toks) > 0),
      lc AS (SELECT doc_id, line, count(*) AS cnt, length(line) AS len
            FROM ln GROUP BY doc_id, line),
      la AS (SELECT doc_id, sum(cnt)::BIGINT AS n_lines,
              1.0 - count(*)::DOUBLE / sum(cnt) AS dlf,
              sum((cnt - 1) * len)::DOUBLE / sum(cnt * len) AS dlcf
            FROM lc GROUP BY doc_id),
      tc AS (SELECT doc_id, length(array_to_string(toks, ' ')) AS chars
            FROM tk),
      g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
              i -> toks[i] || ' ' || toks[i+1])) AS g
            FROM tk WHERE len(toks) >= 2),
      g2m AS (SELECT doc_id, max(c * length(g)) AS mx FROM
              (SELECT doc_id, g, count(*) AS c FROM g2
               GROUP BY doc_id, g) GROUP BY doc_id),
      g3 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
            FROM tk WHERE len(toks) >= 3),
      g3m AS (SELECT doc_id, max(c * length(g)) AS mx FROM
              (SELECT doc_id, g, count(*) AS c FROM g3
               GROUP BY doc_id, g) GROUP BY doc_id)
      SELECT tk.doc_id,
        coalesce(la.n_lines, 0) AS n_lines,
        floor(coalesce(la.dlf, 0.0) * 1000000.0 + 0.5) / 1000000.0
          AS dup_line_frac,
        floor(coalesce(la.dlcf, 0.0) * 1000000.0 + 0.5) / 1000000.0
          AS dup_line_char_frac,
        floor(coalesce(CASE WHEN tc.chars > 0
            THEN g2m.mx::DOUBLE / tc.chars END, 0.0)
          * 1000000.0 + 0.5) / 1000000.0 AS top2_char_frac,
        floor(coalesce(CASE WHEN tc.chars > 0
            THEN g3m.mx::DOUBLE / tc.chars END, 0.0)
          * 1000000.0 + 0.5) / 1000000.0 AS top3_char_frac
      FROM tk
      LEFT JOIN la USING (doc_id) LEFT JOIN tc USING (doc_id)
      LEFT JOIN g2m USING (doc_id) LEFT JOIN g3m USING (doc_id)
      ORDER BY doc_id"""),
    // Same injected-PII construction segment-for-segment; counts on
    // the raw text, redaction email -> URL -> IP with 'g' mirroring
    // Spark's replace-all regexp_replace.
    "q72_pii_scrub" -> """
      WITH p AS (SELECT doc_id, text || ' contact u' || doc_id::VARCHAR
              || '@ex' || (doc_id % 7)::VARCHAR || '.org via http://h'
              || (doc_id % 5)::VARCHAR || '.example.com/p/'
              || doc_id::VARCHAR || ' from 10.'
              || (doc_id % 256)::VARCHAR || '.0.'
              || (doc_id % 100)::VARCHAR || ' end'
              || CASE WHEN doc_id % 2 = 0
                  THEN ' cc b' || doc_id::VARCHAR || '@mail.net'
                  ELSE '' END
              || CASE WHEN doc_id % 3 = 0
                  THEN ' auth http://u' || doc_id::VARCHAR
                    || '@cred.example.net/q'
                  ELSE '' END AS t
            FROM documents)
      SELECT doc_id,
        len(regexp_extract_all(t,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        len(regexp_extract_all(t,
          'https?://[A-Za-z0-9._~:/?#@!$&*+,;=%-]+')) AS n_urls,
        len(regexp_extract_all(t,
          '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS n_ips,
        md5(regexp_replace(regexp_replace(regexp_replace(t,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
          '<EMAIL>', 'g'),
          'https?://[A-Za-z0-9._~:/?#@!$&*+,;=%-]+', '<URL>', 'g'),
          '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g')) AS red_md5
      FROM p ORDER BY doc_id""",
    "q59_pfp_grammar" -> """
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
      FROM p11 ORDER BY name""",
    "q58_status_artifacts" -> """
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
      ORDER BY s.source, e.user_id""",
    "q55_csixml_roundtrip" -> """
      WITH a AS (
        SELECT date_trunc('hour', ts) AS hour_ts,
               floor((avg(value)) * 1000000.0 + 0.5) / 1000000.0
                 AS v_mean,
               count(*)::DOUBLE AS n
        FROM events GROUP BY 1)
      SELECT hour_ts,
             row_number() OVER (ORDER BY hour_ts) - 1 AS rec_no,
             v_mean, n
      FROM a ORDER BY hour_ts""",
    "q56_streaming_append" -> """
      SELECT date_trunc('hour', ts) AS hour_ts,
             count(*) AS n_events,
             floor((sum(value)) * 10000.0 + 0.5) / 10000.0 AS sum_value
      FROM events GROUP BY 1 ORDER BY 1""",
    // The decoded-feature re-derivation: same pixel congruences the
    // Spark side ENCODES (the Spark side then round-trips them through
    // the real javax.imageio BMP codec, so a codec/encoder bug on
    // either end hash-fails). 8x8 24bpp BMP: rows are 24 bytes (no
    // padding), file = 54 + 8*24 = 246 bytes. Integer channel sums
    // divide once in double, both engines bit-identical.
    "q76_image_decode" -> """
      WITH px AS (
        SELECT d.doc_id,
               ((d.doc_id % 256) * 3 + x.x * 7 + y.y * 11) % 256 AS r,
               ((d.doc_id % 256) * 5 + x.x * 11 + y.y * 3) % 256 AS g,
               ((d.doc_id % 256) * 7 + x.x * 3 + y.y * 13) % 256 AS b
        FROM documents d
        CROSS JOIN generate_series(0, 7) AS x(x)
        CROSS JOIN generate_series(0, 7) AS y(y))
      SELECT doc_id, 246 AS payload_bytes,
             8.0::FLOAT AS width, 8.0::FLOAT AS height,
             (sum(r)::DOUBLE / 64.0)::FLOAT AS r_mean,
             (sum(g)::DOUBLE / 64.0)::FLOAT AS g_mean,
             (sum(b)::DOUBLE / 64.0)::FLOAT AS b_mean,
             ((count(*) FILTER (WHERE r + g + b >= 384))::DOUBLE / 64.0)
               ::FLOAT AS frac_bright
      FROM px GROUP BY doc_id ORDER BY doc_id""",
    // Same engineered corpus CASE-for-CASE; quality signals as in the
    // q25 oracle, repetition as in the q71 oracle (width 10, 2-grams
    // only — gopherFilter's parameters); keep compares the UNROUNDED
    // doubles exactly as the Spark side does.
    "q77_gopher_filter" -> (s"""
      WITH corp AS (SELECT doc_id,
          CASE WHEN doc_id % 30 = 0 THEN 'tiny doc'
               WHEN doc_id % 30 = 1 THEN text || repeat('!', length(text))
               WHEN doc_id % 30 = 2 THEN '$q77NoStop'
               WHEN doc_id % 30 = 3 THEN '$q77LongToks'
               WHEN doc_id % 30 = 4 THEN repeat('lorem ipsum dolor sit '
                 || 'amet consectetur adipiscing elit ', 16)
               WHEN doc_id % 30 = 5 THEN repeat('0 1 2 3 4 5 6 7 8 9 ', 6)
               WHEN doc_id % 30 = 6 THEN repeat('z9 y8 x7 w6 v5 u4 t3 s2 ', 80)
               WHEN doc_id % 30 = 7 THEN repeat('lorem ipsum ', 30)
               ELSE text END AS text
        FROM documents),
      tk AS (SELECT doc_id, list_filter(string_split_regex(
            regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
            x -> x <> '') AS toks
        FROM corp),
      q AS (SELECT tk.doc_id, len(toks) AS q_tokens,
            CASE WHEN len(toks) > 0
              THEN list_sum(list_transform(toks, x -> length(x)))::DOUBLE
                / len(toks) ELSE 0.0 END AS q_mean_tok,
            CASE WHEN len(toks) > 0
              THEN len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','at','by','be','are'], x)))::DOUBLE
                / len(toks) ELSE 0.0 END AS q_stopword,
            CASE WHEN length(c.text) > 0
              THEN length(regexp_replace(lower(c.text), '[a-z0-9 ]', '', 'g'))::DOUBLE
                / length(c.text) ELSE 0.0 END AS q_punct
        FROM tk JOIN corp c ON tk.doc_id = c.doc_id),
      ln AS (SELECT doc_id, unnest(list_transform(
              range(0, (len(toks) + 9) // 10),
              i -> array_to_string(list_slice(toks, i*10 + 1, i*10 + 10),
                ' '))) AS line
            FROM tk WHERE len(toks) > 0),
      lc AS (SELECT doc_id, line, count(*) AS cnt, length(line) AS len
            FROM ln GROUP BY doc_id, line),
      la AS (SELECT doc_id, sum(cnt)::BIGINT AS n_lines,
              1.0 - count(*)::DOUBLE / sum(cnt) AS dlf,
              sum((cnt - 1) * len)::DOUBLE / sum(cnt * len) AS dlcf
            FROM lc GROUP BY doc_id),
      tc AS (SELECT doc_id, length(array_to_string(toks, ' ')) AS chars
            FROM tk),
      g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
              i -> toks[i] || ' ' || toks[i+1])) AS g
            FROM tk WHERE len(toks) >= 2),
      g2m AS (SELECT doc_id, max(c * length(g)) AS mx FROM
              (SELECT doc_id, g, count(*) AS c FROM g2
               GROUP BY doc_id, g) GROUP BY doc_id),
      rep AS (SELECT tk.doc_id,
              coalesce(la.n_lines, 0) AS n_lines,
              coalesce(la.dlf, 0.0) AS dlf,
              coalesce(la.dlcf, 0.0) AS dlcf,
              coalesce(CASE WHEN tc.chars > 0
                THEN g2m.mx::DOUBLE / tc.chars END, 0.0) AS top2
            FROM tk LEFT JOIN la USING (doc_id)
            LEFT JOIN tc USING (doc_id) LEFT JOIN g2m USING (doc_id))
      SELECT q.doc_id, q.q_tokens,
        floor(q.q_mean_tok * 1000000.0 + 0.5) / 1000000.0 AS q_mean_tok,
        floor(q.q_stopword * 1000000.0 + 0.5) / 1000000.0 AS q_stopword,
        floor(q.q_punct * 1000000.0 + 0.5) / 1000000.0 AS q_punct,
        rep.n_lines,
        floor(rep.dlf * 1000000.0 + 0.5) / 1000000.0 AS dup_line_frac,
        floor(rep.dlcf * 1000000.0 + 0.5) / 1000000.0 AS dup_line_char_frac,
        floor(rep.top2 * 1000000.0 + 0.5) / 1000000.0 AS top2_char_frac,
        (q.q_tokens BETWEEN 50 AND 600
          AND q.q_mean_tok BETWEEN 2.0 AND 12.0
          AND q.q_stopword >= 0.02 AND q.q_punct <= 0.25
          AND rep.dlf <= 0.30 AND rep.dlcf <= 0.30
          AND rep.top2 <= 0.20) AS keep
      FROM q JOIN rep ON q.doc_id = rep.doc_id
      ORDER BY q.doc_id"""),
    // Same sample congruence the Spark side ENCODES into real WAV
    // bytes (then round-trips through javax.sound.sampled). 256
    // samples * 2 bytes + 44-byte canonical header = 556 bytes.
    // Integer accumulators divide once in double; sqrt is correctly
    // rounded in both engines, so the FLOAT casts are bit-identical.
    "q78_audio_decode" -> """
      WITH smp AS (
        SELECT d.doc_id,
               ((d.doc_id % 1009) * 131 + i.i * 997) % 65536 - 32768 AS s
        FROM documents d CROSS JOIN generate_series(0, 255) AS i(i))
      SELECT doc_id, 556 AS payload_bytes,
             8000.0::FLOAT AS sample_rate, 256.0::FLOAT AS n_samples,
             (sum(abs(s))::DOUBLE / 256.0)::FLOAT AS mean_abs,
             sqrt(sum(s * s)::DOUBLE / 256.0)::FLOAT AS rms,
             ((count(*) FILTER (WHERE s >= 0))::DOUBLE / 256.0)::FLOAT
               AS nonneg_frac,
             max(abs(s))::FLOAT AS max_abs
      FROM smp GROUP BY doc_id ORDER BY doc_id""",
    // Same per-channel congruences the Spark side ENCODES into real
    // AVI/DIB bytes (then round-trips through the RIFF chunk walker).
    // 6 frames of 8x6 px, kernel samples every 2nd frame -> frames
    // 0/2/4, 144 sampled pixels. Container: 1136 bytes (44+56+124
    // header chunks + 6 x 152-byte frame chunks).
    "q79_video_decode" -> """
      WITH px AS (
        SELECT d.doc_id,
               ((d.doc_id % 1009) * 7 + f.f * 11 + x.x * 3 + y.y * 13)
                 % 256 AS r,
               ((d.doc_id % 1009) * 3 + f.f * 5 + x.x * 7 + y.y * 11)
                 % 256 AS g,
               ((d.doc_id % 1009) * 11 + f.f * 3 + x.x * 13 + y.y * 5)
                 % 256 AS b
        FROM documents d
        CROSS JOIN generate_series(0, 5) AS f(f)
        CROSS JOIN generate_series(0, 7) AS x(x)
        CROSS JOIN generate_series(0, 5) AS y(y)
        WHERE f.f % 2 = 0)
      SELECT doc_id, 1136 AS payload_bytes,
             8.0::FLOAT AS width, 6.0::FLOAT AS height,
             6.0::FLOAT AS n_frames, 3.0::FLOAT AS n_sampled,
             (sum(r)::DOUBLE / 144.0)::FLOAT AS r_mean,
             (sum(g)::DOUBLE / 144.0)::FLOAT AS g_mean,
             (sum(b)::DOUBLE / 144.0)::FLOAT AS b_mean,
             ((count(*) FILTER (WHERE r + g + b >= 384))::DOUBLE / 144.0)
               ::FLOAT AS frac_bright
      FROM px GROUP BY doc_id ORDER BY doc_id""",
    // 8-token sliding windows (1-based slice i..i+7 = Spark pos i-1),
    // md5-16 keys; gaps-and-islands merge with the same `pos - lag <=
    // k` break rule (NULL lag -> new group in both engines).
    "q80_dup_spans" -> (tokCte + """,
      win AS (SELECT doc_id, i - 1 AS pos,
          substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 16) AS wh
        FROM tk, unnest(range(1, len(toks) - 6)) t(i)),
      occ AS (SELECT wh FROM win GROUP BY wh HAVING count(*) >= 2),
      dw AS (SELECT w.doc_id, w.pos FROM win w JOIN occ USING (wh)),
      b AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos)
          OVER (PARTITION BY doc_id ORDER BY pos) <= 8 THEN 0 ELSE 1
          END AS brk FROM dw),
      g AS (SELECT doc_id, pos, sum(brk)
          OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM b)
      SELECT doc_id, min(pos) AS span_start, max(pos) + 8 AS span_end,
             count(*) AS dup_windows
      FROM g GROUP BY doc_id, grp ORDER BY doc_id, span_start"""),
    "q81_remove_spans" -> (tokCte + """,
      win AS (SELECT doc_id, i - 1 AS pos,
          substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 16) AS wh
        FROM tk, unnest(range(1, len(toks) - 6)) t(i)),
      occ AS (SELECT wh FROM win GROUP BY wh HAVING count(*) >= 2),
      dw AS (SELECT w.doc_id, w.pos FROM win w JOIN occ USING (wh)),
      b AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos)
          OVER (PARTITION BY doc_id ORDER BY pos) <= 8 THEN 0 ELSE 1
          END AS brk FROM dw),
      g AS (SELECT doc_id, pos, sum(brk)
          OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM b),
      spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e
        FROM g GROUP BY doc_id, grp),
      tokrow AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok
        FROM tk, unnest(range(1, len(toks) + 1)) t(i)),
      kept AS (SELECT t.doc_id, t.pos, t.tok FROM tokrow t
        WHERE NOT EXISTS (SELECT 1 FROM spans s
          WHERE s.doc_id = t.doc_id
            AND t.pos >= s.s AND t.pos < s.e)),
      rebuilt AS (SELECT doc_id,
          string_agg(tok, ' ' ORDER BY pos) AS ct
        FROM kept GROUP BY doc_id)
      SELECT d.doc_id, coalesce(r.ct, '') AS clean_text
      FROM documents d LEFT JOIN rebuilt r USING (doc_id)
      ORDER BY d.doc_id"""),
  )
}
