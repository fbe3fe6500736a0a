package graft

import org.apache.spark.{SparkException, SparkThrowable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.Materialize

/** The materialization seam: what a lost local checkpoint does, what
  * a reliable one survives, the one storage level, release, and the
  * lazy-checkpoint contract of the connected-components loop. Task
  * retries are not injected: that needs a `local[N,F]` master, and
  * the shared test session is `local[N]`. */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._
  import PersistentRdds._

  private def conditions(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collect {
      case s: SparkThrowable => s.getCondition
    }.toSeq

  private def persistent = spark.sparkContext.getPersistentRDDs

  private def frame: DataFrame =
    spark.range(0, 2000, 1, 4).select(col("id"), (col("id") * 3).as("v"))

  private val expected = (0L until 2000L).map(i => (i, i * 3))

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.orderBy("id").as[(Long, Long)].collect().toSeq

  test("a local checkpoint whose blocks are lost fails with a named cause") {
    val (ck, ids) = persistedBy(spark)(Materialize.checkpoint(frame))
    assert(ids.nonEmpty)
    unpersist(spark, ids)
    var got: Seq[(Long, Long)] = null
    val ex = intercept[SparkException] { got = rows(ck) }
    assert(got == null)
    assert(conditions(ex).contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"), ex)
  }

  test("a reliable checkpoint survives the same removal") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    val (ck, ids) =
      persistedBy(spark)(Materialize.checkpoint(frame, reliable = true))
    unpersist(spark, ids ++ leafRdds(ck))
    assert(rows(ck) == expected)
  }

  test("every checkpoint and cache persists at MEMORY_AND_DISK_SER") {
    val (ck, ckIds) = persistedBy(spark)(Materialize.checkpoint(frame))
    val (lazyCk, lazyIds) = persistedBy(spark) {
      val c = Materialize.checkpoint(frame, eager = false); c.count(); c
    }
    val (cached, cacheIds) = persistedBy(spark) {
      val c = Materialize.cache(frame); c.count(); c
    }
    Seq(ckIds, lazyIds, cacheIds).foreach(ids => assert(ids.nonEmpty))
    (ckIds ++ lazyIds ++ cacheIds).foreach { i =>
      assert(persistent(i).getStorageLevel ==
        StorageLevel.MEMORY_AND_DISK_SER, persistent(i).toDebugString)
    }
    Seq(ck, lazyCk, cached).foreach(Materialize.release)
  }

  test("release frees a checkpoint's blocks and a cache's blocks") {
    val (ck, ckIds) = persistedBy(spark)(Materialize.checkpoint(frame))
    val (cached, cacheIds) = persistedBy(spark) {
      val c = Materialize.cache(frame); c.count(); c
    }
    // why release exists: a checkpoint is not in the CacheManager, so
    // Dataset.unpersist leaves its blocks in place
    ck.unpersist(blocking = true)
    assert(ckIds.subsetOf(persistent.keySet))
    Materialize.release(ck)
    Materialize.release(cached)
    assert((persistent.keySet & (ckIds ++ cacheIds)).isEmpty)
  }

  test("a lazy checkpoint is filled by one runJob, then read from blocks") {
    val evaluated = spark.sparkContext.longAccumulator("lazy-checkpoint")
    val src = spark.range(0, 2000, 1, 5).as[Long]
      .map { i => evaluated.add(1); i }.toDF("id")
    val ck = Materialize.checkpoint(src, eager = false)
    assert(evaluated.sum == 0L)
    // the connected-components loop's shape: one runJob over every
    // partition of a projection of the checkpoint
    val n = spark.sparkContext.runJob(
      ck.select(col("id") % 2).queryExecution.toRdd,
      (it: Iterator[InternalRow]) => it.size.toLong).sum
    assert(n == 2000L && evaluated.sum == 2000L)
    assert(ck.orderBy("id").as[Long].collect().toSeq == (0L until 2000L))
    assert(evaluated.sum == 2000L, "the later action recomputed the source")
    Materialize.requireFilled(ck)
    Materialize.release(ck)
  }

  test("requireFilled fails by name until a job has read the checkpoint") {
    val ck = Materialize.checkpoint(frame, eager = false)
    val e = intercept[IllegalStateException](Materialize.requireFilled(ck))
    assert(e.getMessage.startsWith("lazy checkpoint not filled"), e)
    // reading the source instead of the checkpoint leaves it unfilled
    frame.count()
    intercept[IllegalStateException](Materialize.requireFilled(ck))
    Materialize.release(ck)
    intercept[IllegalArgumentException](Materialize.requireFilled(frame))
  }

  test("a limit(1) read fills a lazy checkpoint with a job of its own") {
    val ck = Materialize.checkpoint(frame, eager = false)
    val (_, r) = graft.obs.Meter.on(spark).span("limit") {
      ck.limit(1).collect()
    }
    // Spark's local-checkpoint finalizer computes the partitions the
    // take did not reach, so a short-circuiting action costs a job,
    // never a partially stored checkpoint
    Materialize.requireFilled(ck)
    assert(r.jobs.size == 2, s"jobs: ${r.jobs.map(_.name)}")
    Materialize.release(ck)
  }
}
