package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

import graft.core.{FileInfo, TableMeta, VariableMeta}
import graft.pipeline.MergeLegality
import graft.sim.PqOps
import graft.text.VocabOps

/** Persisted-RDD bookkeeping over `SparkContext.getPersistentRDDs`. */
object PersistentRdds {

  /** `body`'s result and the ids of the RDDs it left persisted. */
  def persistedBy[T](spark: SparkSession)(body: => T): (T, Set[Int]) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = body
    (out, spark.sparkContext.getPersistentRDDs.keySet.toSet -- before)
  }

  def unpersist(spark: SparkSession, ids: Set[Int]): Unit = {
    val live = spark.sparkContext.getPersistentRDDs
    ids.foreach(i => live.get(i).foreach(_.unpersist(blocking = true)))
  }

  /** RDD ids of the materialized leaves `df` reads. */
  def leafRdds(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collectLeaves().collect {
      case r: LogicalRDD => r.rdd.id
    }.toSet
}

/** Engine callers free the blocks they materialize for their own use:
  * a call leaves `getPersistentRDDs` no larger than before, apart
  * from a checkpoint its returned frame reads. */
class MaterializeReleaseSpec extends SparkSpec {
  import spark.implicits._
  import PersistentRdds._

  private def persistent = spark.sparkContext.getPersistentRDDs

  test("VocabOps.heavyHitters keeps only the checkpoint its result reads") {
    val docs = Seq("a a a b", "a c a d", "a b e f", "g a h a").toDF("text")
    val (hh, ids) =
      persistedBy(spark)(VocabOps.heavyHitters(docs, "text", 1L, 4L))
    val kept = leafRdds(hh)
    assert(ids.subsetOf(kept), s"persisted $ids, result reads $kept")
    assert(hh.as[(String, Long, Long)].collect().toSeq == Seq(("a", 8L, 16L)))
    val before = persistent.size - ids.size
    unpersist(spark, kept)
    assert(persistent.size <= before)
  }

  test("PqOps.ivfPqTopKResidual keeps only the checkpoint its result reads") {
    val vecs = (0L until 12L).map(i => (i, Seq(math.sin(i.toDouble),
      math.cos(i.toDouble), (i % 3) * 0.3 - 0.3, (i % 4) * 0.2 - 0.3)
      .map(_.toFloat)))
    val corpus = vecs.toDF("vec_id", "embedding")
    val (res, ids) = persistedBy(spark)(PqOps.ivfPqTopKResidual(
      corpus.filter($"vec_id" < 3L), corpus, 2, subspaces = 2, codes = 4,
      iters = 1, nProbe = 2, centroidStride = 3L))
    val kept = leafRdds(res)
    assert(ids.subsetOf(kept), s"persisted $ids, result reads $kept")
    assert(res.count() == 6L)
    val before = persistent.size - ids.size
    unpersist(spark, kept)
    assert(persistent.size <= before)
  }

  test("MergeLegality.analyse leaves no persisted RDD behind") {
    val meta = TableMeta(FileInfo.dummy,
      Seq(VariableMeta("Ta", "degC", "Avg")))
    def grid(hours: Seq[Int]) = hours.map(h =>
        (java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00"), h.toDouble))
      .toDF("DATETIME", "Ta")
    val before = persistent.keySet
    val r = MergeLegality.analyse(grid(0 to 5), meta, grid(4 to 9), meta,
      "DATETIME")
    assert(r.contributesNewDates && r.sameInterval)
    assert(persistent.keySet.subsetOf(before),
      s"left ${persistent.keySet -- before}")
  }
}
