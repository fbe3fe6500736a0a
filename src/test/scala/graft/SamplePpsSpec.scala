package graft

import org.apache.spark.sql.functions._

import graft.text.{PackOps, SampleOps}

/** Specs for the systematic PPS sampler: exact grid accounting
  * (Σ n_hits = k), literal single-threaded re-derivation, heavy-row
  * guarantee, zero/null-weight exclusion, negative refusal, and
  * partition invariance. */
class SamplePpsSpec extends SparkSpec {
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Literal replay: hash-coordinate order, prefix sums, grid. */
  private def brute(rows: Seq[(Long, Long)], k: Long, salt: String)
      : Map[Long, Long] = {
    val ordered = rows.sortBy { case (id, _) =>
      (java.lang.Long.parseLong(
        md5hex(s"$salt:$id").substring(0, 8), 16).toDouble
        / 4294967296.0, id)
    }
    val w = ordered.map(_._2.max(0L))
    val tot = w.sum
    val s = java.lang.Long.parseLong(
      md5hex(s"pps:$salt").substring(0, 15), 16) % tot
    def ceilDiv(a: Long): Long = (a - s + tot - 1) / tot
    var start = 0L
    val out = scala.collection.mutable.Map.empty[Long, Long]
    ordered.zip(w).foreach { case ((id, _), wi) =>
      val hits = ceilDiv((start + wi) * k) - ceilDiv(start * k)
      if (hits > 0) out(id) = hits
      start += wi
    }
    out.toMap
  }

  test("samplePpsSystematic matches the literal re-derivation; " +
      "sum(n_hits) == k; heavy rows always selected") {
    val rows = (0L until 200L).map(i =>
      (i, ((i * 37) % 23) + (if (i == 57L) 5000L else 0L)))
    val df = rows.toDF("doc_id", "w")
    for (k <- Seq(1L, 7L, 50L, 500L)) {
      val got = SampleOps.samplePpsSystematic(df, "doc_id", "w", k,
          s"t$k")
        .select("doc_id", "n_hits").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      PackOps.releaseSubstrates()
      assert(got == brute(rows, k, s"t$k"), s"k=$k")
      assert(got.values.sum == k, s"k=$k: hits ${got.values.sum}")
      // id 57 holds >half the total weight: always in, with
      // multiplicity ~ its weight share when k is large
      if (k >= 2) assert(got.contains(57L), s"k=$k lost the heavy row")
    }
  }

  test("zero and null weights never select; negative refuses") {
    val df = Seq((0L, Some(10L)), (1L, Some(0L)), (2L, None),
      (3L, Some(10L))).toDF("doc_id", "w")
    val got = SampleOps.samplePpsSystematic(df, "doc_id", "w", 6L, "z")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    PackOps.releaseSubstrates()
    assert(got.subsetOf(Set(0L, 3L)) && got.nonEmpty)
    val ex = intercept[org.apache.spark.SparkException] {
      SampleOps.samplePpsSystematic(
        Seq((0L, -1L)).toDF("doc_id", "w"), "doc_id", "w", 1L, "n")
        .count()
    }
    assert(ex.getCause.isInstanceOf[IllegalArgumentException], ex)
    assert(ex.getCause.getMessage.contains("negative weight"))
  }

  /** BigInt replay for the overflow regime — the Long-based [[brute]]
    * would overflow exactly where the operator used to refuse. */
  private def bruteBig(rows: Seq[(Long, Long)], k: Long, salt: String)
      : Map[Long, Long] = {
    val ordered = rows.sortBy { case (id, _) =>
      (java.lang.Long.parseLong(
        md5hex(s"$salt:$id").substring(0, 8), 16).toDouble
        / 4294967296.0, id)
    }
    val w = ordered.map(_._2.max(0L))
    val tot = w.map(BigInt(_)).sum
    val s = BigInt(java.lang.Long.parseLong(
      md5hex(s"pps:$salt").substring(0, 15), 16)) mod tot
    def ceilDiv(a: BigInt): BigInt = (a - s + tot - 1) / tot
    var start = BigInt(0)
    val out = scala.collection.mutable.Map.empty[Long, Long]
    ordered.zip(w).foreach { case ((id, _), wi) =>
      val hits = ceilDiv((start + wi) * k) - ceilDiv(start * k)
      if (hits > 0) out(id) = hits.toLong
      start += wi
    }
    out.toMap
  }

  test("W*k beyond 64 bits: decimal grid arithmetic, no rescaling") {
    // W ≈ 5.3e18 (fits a long) × k = 10^6 → W·k ≈ 5.3e24 ≫ 2^63 —
    // the regime the DECIMAL(38,0) grid exists for (VERDICT r18 #6;
    // the operator previously REFUSED here). Exact accounting must
    // survive: Σ n_hits = k, heavy row always in, BigInt replay
    // matches selection-for-selection.
    val rows = (0L until 64L).map(i =>
      (i, 60000000000000000L + i * 1000000000000L +
        (if (i == 7L) 1500000000000000000L else 0L)))
    val k = 1000000L
    val got = SampleOps.samplePpsSystematic(
        rows.toDF("doc_id", "w"), "doc_id", "w", k, "big")
      .select("doc_id", "n_hits").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    PackOps.releaseSubstrates()
    assert(got == bruteBig(rows, k, "big"))
    assert(got.values.sum == k)
    assert(got.contains(7L), "heavy row lost in the overflow regime")
  }

  test("empty input refuses with the designed diagnostic") {
    val ex = intercept[IllegalArgumentException] {
      SampleOps.samplePpsSystematic(
        Seq.empty[(Long, Long)].toDF("doc_id", "w"),
        "doc_id", "w", 3L, "e")
    }
    assert(ex.getMessage.contains("total weight is 0"))
  }

  test("partition-layout invariant") {
    val rows = (0L until 120L).map(i => (i, (i % 11) + 1))
    def run(np: Int) = {
      val out = SampleOps.samplePpsSystematic(
          rows.toDF("doc_id", "w").repartition(np), "doc_id", "w",
          25L, "p")
        .select("doc_id", "n_hits").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      PackOps.releaseSubstrates()
      out
    }
    assert(run(1) == run(7))
  }
}
