package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.PrefixScan

/** The cross-partition stitch of [[PrefixScan]]: at an explicit
  * partition count n ∈ {1, 2, 3, 7}, global and stratified, every
  * prefix and total equals a sequential driver reference. The
  * operators size their scans from the input (one partition below
  * 32 MB), so their own partition-invariance specs never reach the
  * stitch; this one does, and checks that it did. */
class PrefixScanSpec extends SparkSpec {
  import spark.implicits._

  private val parts = Seq(1, 2, 3, 7)

  /** (id, stratum, pri, w1, w2) */
  private type Doc = (Long, Option[String], Long, Option[Long], Long)

  // 3 strata of uneven size plus NULL; weights with zeros, runs of
  // equal values and NULLs (counted as 0); `pri` repeats, so the
  // order (pri DESC, id) leans on its id tiebreak
  private val wide: Seq[Doc] =
    (0L until 300L).map { id =>
      val s = id % 10 match {
        case 0 | 1 | 2 | 3 | 4 | 5 => Some("a")
        case 6 | 7 => Some("b")
        case 8 => Some("c")
        case _ => None
      }
      val w1 = if (id % 4 == 0) Some(0L) else if (id % 13 == 0) None
        else Some(5L)
      (id, s, id % 10, w1, id % 7)
    }

  private def frame(rows: Seq[Doc]): DataFrame =
    rows.toDF("id", "s", "pri", "w1", "w2")

  /** Sequential reference: id -> (exclusive w1, exclusive w2) within
    * the (folded) stratum, and per-stratum totals. */
  private def reference(rows: Seq[Doc], stratified: Boolean)
      : (Map[Long, (Long, Long)], Map[String, Seq[Long]]) = {
    val keyed = rows.map { case (id, s, pri, w1, w2) =>
      (if (stratified) s.getOrElse("") else "", pri, id, w1.getOrElse(0L), w2)
    }
    val prefixes = Map.newBuilder[Long, (Long, Long)]
    val totals = keyed.groupBy(_._1).map { case (s, rs) =>
      var a = 0L; var b = 0L
      rs.sortBy { case (_, pri, id, _, _) => (-pri, id) }.foreach {
        case (_, _, id, w1, w2) => prefixes += id -> ((a, b)); a += w1; b += w2
      }
      s -> Seq(a, b)
    }
    (prefixes.result(), totals)
  }

  private def scan(df: DataFrame, stratified: Boolean, n: Int): PrefixScan =
    PrefixScan(df, Seq(col("pri").desc, col("id")),
      Seq("p1" -> col("w1"), "p2" -> col("w2")),
      stratum = if (stratified) Some(col("s")) else None,
      numPartitions = Some(n))

  /** (partition, folded stratum) of every substrate row. */
  private def layout(sc: PrefixScan): Seq[(Int, String)] =
    sc.substrate.select(spark_partition_id(),
        coalesce(col("s"), lit(""))).as[(Int, String)].collect().toSeq

  private def check(rows: Seq[Doc],
      stratified: Boolean, n: Int): Seq[(Int, String)] = {
    val (want, wantTotals) = reference(rows, stratified)
    val sc = scan(frame(rows), stratified, n)
    try {
      val got = sc.rows.select("id", "p1", "p2").as[(Long, Long, Long)]
        .collect().map { case (id, a, b) => id -> ((a, b)) }.toMap
      assert(got == want, s"prefixes differ at n=$n stratified=$stratified")
      assert(sc.totals.map { case (s, t) => s -> t.toSeq } == wantTotals,
        s"totals differ at n=$n stratified=$stratified")
      layout(sc)
    } finally sc.release()
  }

  for (stratified <- Seq(false, true); n <- parts) {
    val kind = if (stratified) "stratified" else "global"
    test(s"$kind prefixes and totals equal the sequential reference, n=$n") {
      val placed = check(wide, stratified, n)
      val nonEmpty = placed.map(_._1).distinct
      assert(nonEmpty.forall(p => p >= 0 && p < n))
      if (n > 1) {
        assert(nonEmpty.size > 1, s"only partitions $nonEmpty held rows")
        // some stratum straddles a partition boundary
        if (stratified)
          assert(placed.distinct.groupBy(_._2).values.exists(_.size > 1))
      }
    }
  }

  test("the interpreted prefix expression equals the reference, n=3") {
    val keys = Seq("spark.sql.codegen.wholeStage",
      "spark.sql.codegen.factoryMode")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try Seq(false, true).foreach(check(wide, _, 3))
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a scan with empty range partitions matches the reference") {
    // 4 rows over 7 range partitions: at most 4 hold rows
    val tiny = wide.filter(r => Set(1L, 2L, 13L, 29L)(r._1))
    Seq(false, true).foreach { stratified =>
      val placed = check(tiny, stratified, 7)
      assert(placed.map(_._1).distinct.size < 7)
      assert(placed.map(_._1).distinct.size > 1)
    }
  }

  test("an empty input scans to no rows and no totals") {
    val sc = scan(frame(Nil), stratified = true, 3)
    try {
      assert(sc.rows.count() == 0L)
      assert(sc.totals.isEmpty && sc.total(0) == 0L)
    } finally sc.release()
  }
}
