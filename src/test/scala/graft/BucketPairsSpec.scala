package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Window => WindowNode}

import graft.operators.BucketPairs

/** [[BucketPairs]] against a brute-force local pair set, over a
  * table whose buckets sit under two key columns: rows in several
  * buckets, singleton buckets, a bucket of exactly `cap` rows and a
  * hot one of `cap + 1`, at shuffle partition counts 1, 3 and 7. */
class BucketPairsSpec extends SparkSpec {
  import spark.implicits._

  private val cap = 4L

  /** (id, band, key, payload) */
  private val rows: Seq[(Long, Int, String, Long)] = {
    def bucket(band: Int, key: String, ids: Long*) =
      ids.map(id => (id, band, key, id * 10L))
    bucket(0, "x", 1, 2, 3) ++
      bucket(0, "y", 4) ++ // singleton
      bucket(1, "x", 1, 5, 6, 7) ++ // exactly cap rows: kept
      bucket(1, "y", 2, 3, 8, 9, 10) ++ // cap + 1 rows: dropped
      bucket(2, "x", 4, 11) ++
      bucket(2, "y", 12) ++ // singleton
      bucket(3, "x", 1, 2) // (1, 2) shares two buckets
  }

  private def table: DataFrame = rows.toDF("id", "band", "key", "p")

  private val keys = Seq("band", "key")

  private def buckets = rows.groupBy(r => (r._2, r._3))

  /** Every (band, key, id_a, id_b) of a bucket of 2..limit rows. */
  private def brute(limit: Long): Seq[(Int, String, Long, Long)] =
    buckets.toSeq.filter(_._2.size <= limit).flatMap { case ((b, k), rs) =>
      val ids = rs.map(_._1).sorted
      for (i <- ids; j <- ids if i < j) yield (b, k, i, j)
    }.sorted

  private def pairs(df: DataFrame): Seq[(Int, String, Long, Long)] = {
    val got = df.selectExpr("a.band", "a.key", "a.id", "b.id", "a.p", "b.p")
      .as[(Int, String, Long, Long, Long, Long)].collect().toSeq
    // the payload of each side rides with its id
    assert(got.forall { case (_, _, a, b, pa, pb) =>
      pa == a * 10L && pb == b * 10L })
    got.map { case (b, k, a, bb, _, _) => (b, k, a, bb) }.sorted
  }

  /** `body` at `n` shuffle partitions, with AQE's coalescing off so
    * that a tiny input is not folded back into one partition. */
  private def atParts[T](n: Int)(body: => T): T = {
    val confs = Map("spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val old = confs.keys.map(k => k -> spark.conf.get(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  private def windows(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case w: WindowNode => w }.size

  for (n <- Seq(1, 3, 7)) {
    test(s"capped pairs equal brute force at $n shuffle partitions") {
      atParts(n) {
        val joined = BucketPairs(table, keys, Some(cap))
        assert(joined.rdd.getNumPartitions == n)
        val got = pairs(joined)
        assert(got == brute(cap))
        // each pair once per shared bucket, with id_a < id_b
        assert(got.distinct == got && got.forall(r => r._3 < r._4))
        // the bucket of exactly cap rows pairs; the one of cap + 1 does not
        assert(got.count(r => (r._1, r._2) == ((1, "x"))) == 6)
        assert(!got.exists(r => (r._1, r._2) == ((1, "y"))))
        // a pair keeps one row per kept shared bucket: (2, 3) also
        // shares the dropped one
        assert(got.count(r => (r._3, r._4) == ((1L, 2L))) == 2)
        assert(got.count(r => (r._3, r._4) == ((2L, 3L))) == 1)
      }
    }

    test(s"uncapped pairs equal brute force at $n shuffle partitions") {
      atParts(n) {
        val got = pairs(BucketPairs(table, keys))
        assert(got == brute(Long.MaxValue))
        assert(got.count(r => (r._1, r._2) == ((1, "y"))) == 10)
      }
    }

    test(s"the hot report is the set of over-cap buckets at $n partitions") {
      atParts(n) {
        val got = BucketPairs.hot(table, keys, cap)
          .as[(Int, String, Long)].collect().toSet
        val want = buckets.collect {
          case ((b, k), rs) if rs.size > cap => (b, k, rs.size.toLong)
        }.toSet
        assert(got == want && got == Set((1, "y", 5L)))
        // the cap dropped exactly the reported buckets' pairs
        val dropped = brute(Long.MaxValue).diff(brute(cap))
          .map(r => (r._1, r._2)).toSet
        assert(dropped == got.map(r => (r._1, r._2)))
      }
    }
  }

  test("no cap plans no window; a cap plans one per join side") {
    assert(windows(BucketPairs(table, keys)) == 0)
    assert(windows(BucketPairs(table, keys, Some(cap))) == 2)
  }

  test("the id column and the stage are the caller's") {
    val byP = BucketPairs(table.withColumnRenamed("id", "doc"), keys,
      Some(cap), id = "doc", stage = _.filter($"band" =!= 0))
      .selectExpr("a.band", "a.key", "a.doc", "b.doc")
      .as[(Int, String, Long, Long)].collect().toSeq.sorted
    assert(byP == brute(cap).filter(_._1 != 0))
  }
}
