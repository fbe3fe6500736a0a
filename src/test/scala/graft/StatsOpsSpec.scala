package graft

import org.apache.spark.sql.functions._

import graft.operators.StatsOps

/** Specs for exact distributed order statistics: literal rank
  * re-derivation, ties resolved by id, shared-rank probs, null
  * exclusion, and partition invariance. */
class StatsOpsSpec extends SparkSpec {
  import spark.implicits._

  test("exactQuantiles matches the literal ceil-rank re-derivation") {
    // values deliberately unordered by id, with ties
    val vals = Seq(5.0, 1.0, 3.0, 3.0, 9.0, 2.0, 7.0, 3.0, 8.0, 4.0)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
    val probs = Seq((1L, 4L), (1L, 2L), (3L, 4L), (1L, 1L))
    val got = StatsOps.exactQuantiles(df, "v", "id", probs)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    val sorted = vals.zipWithIndex
      .sortBy { case (v, i) => (v, i) }.map(_._1)
    probs.foreach { case (pn, pd) =>
      val rank = (vals.length * pn + pd - 1) / pd
      assert(got((pn, pd)) == (rank, sorted(rank.toInt - 1)),
        s"p=$pn/$pd")
    }
    // median of 10 values at ceil(10/2)=5 -> 5th smallest = 3.0
    assert(got((1L, 2L))._2 == 3.0)
    assert(got((1L, 1L))._2 == 9.0) // max at rank n
  }

  test("probs sharing a rank each emit; nulls excluded; " +
      "partition-invariant") {
    val df = (Seq.fill(3)(Option.empty[Double]) ++
      (1 to 97).map(i => Some(i.toDouble)))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
    // n = 97 non-null; 50/100 and 1/2 share rank ceil(97/2) = 49
    def run(d: org.apache.spark.sql.DataFrame) =
      StatsOps.exactQuantiles(d, "v", "id",
        Seq((50L, 100L), (1L, 2L), (97L, 97L)))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
    val got = run(df)
    assert(got == Set((50L, 100L, 49L, 49.0), (1L, 2L, 49L, 49.0),
      (97L, 97L, 97L, 97.0)))
    assert(run(df.repartition(13)) == got)
    intercept[IllegalArgumentException] {
      StatsOps.exactQuantiles(df, "v", "id", Seq((3L, 2L)))
    }
  }

  test("filterByQuantileRange: inclusive exact bounds, nulls drop, " +
      "degenerate point range, malformed order rejected") {
    val df = ((1 to 100).map(i => (i.toLong, Some(i.toDouble))) :+
      (200L, Option.empty[Double])).toDF("id", "v")
    // p10 = value at ceil(100/10) = 10, p90 = at rank 90 — inclusive
    val kept = StatsOps.filterByQuantileRange(df, "v", "id",
        (1L, 10L), (9L, 10L))
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == (10L to 90L))
    // degenerate point range keeps exactly the median-valued rows
    val point = StatsOps.filterByQuantileRange(df, "v", "id",
        (1L, 2L), (1L, 2L))
      .collect().map(_.getLong(0)).toSeq
    assert(point == Seq(50L))
    intercept[IllegalArgumentException] {
      StatsOps.filterByQuantileRange(df, "v", "id", (9L, 10L), (1L, 10L))
    }
  }

  test("rankSketchCells: buckets are decimal-exact and the quantile " +
      "bound provably contains the exact quantile") {
    // skewed positive values incl. 0, single digits, and cross-decade
    val vals = (0 until 500).map(i =>
      ((i.toLong * 7919L) % 12345L) * ((i % 13) + 1) / 7L)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v, "g") }
      .toDF("id", "v", "grp")
    val cells = StatsOps.rankSketchCells(df, "v", "grp")
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // cell recount == literal bucketing
    val want = vals.groupBy(v =>
        (v.toString.length, v.toString.take(2).toLong))
      .map { case ((d, l), vs) => (d, l, vs.size.toLong) }.toSet
    assert(cells.toSet == want)
    // containment: for a ladder of probs, the exact ceil-rank
    // quantile lies in the sketch's [lo, hi)
    val sorted = vals.sorted
    for (p <- Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0)) {
      val exact = sorted((math.max(1L,
        math.ceil(p * vals.size).toLong) - 1).toInt)
      val (lo, hi) = StatsOps.rankSketchQuantile(cells, p)
      assert(lo <= exact && exact < hi, s"p=$p: $exact not in [$lo,$hi)")
      // the relative-width contract at sigDigits=2: hi-lo <= ~10% of lo
      assert(lo == 0 || (hi - lo).toDouble / lo <= 0.1 + 1e-9)
    }
  }

  test("rankSketchCells merge is union-exact; negatives refuse") {
    val a = Seq((0L, 12L, "x"), (1L, 999L, "x"), (2L, 5L, "y"))
      .toDF("id", "v", "grp")
    val b = Seq((3L, 12L, "x"), (4L, 0L, "y")).toDF("id", "v", "grp")
    val merged = StatsOps.mergeRankCells(
        StatsOps.rankSketchCells(a, "v", "grp"),
        StatsOps.rankSketchCells(b, "v", "grp"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).toSet
    val whole = StatsOps.rankSketchCells(a.unionByName(b), "v", "grp")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(merged == whole)
    val ex = intercept[org.apache.spark.SparkException] {
      StatsOps.rankSketchCells(
        Seq((0L, -3L, "x")).toDF("id", "v", "grp"), "v", "grp").count()
    }
    assert(ex.getCause.isInstanceOf[IllegalArgumentException], ex)
    assert(ex.getCause.getMessage.contains("negative value"))
  }

  test("rankSketchQuantile clamps hi at 19 digits (ADVICE r18)") {
    // Values near Long.MaxValue bucket at (digits=19, lead=92);
    // (lead+1)·10^17 = 9.3e18 overflows a long — hi must clamp to
    // Long.MaxValue, not wrap negative, and lo stays exact.
    val v = Long.MaxValue - 5 // 9223372036854775802 → bucket (19, 92)
    val cells = Seq((19, 92L, 3L))
    val (lo, hi) = StatsOps.rankSketchQuantile(cells, 0.5)
    assert(lo == 9200000000000000000L)
    assert(hi == Long.MaxValue)
    assert(lo <= v && v < hi)
    // an unclamped 18-digit bucket is untouched
    val (lo2, hi2) = StatsOps.rankSketchQuantile(Seq((18, 92L, 1L)), 1.0)
    assert(lo2 == 920000000000000000L && hi2 == 930000000000000000L)
  }
}
