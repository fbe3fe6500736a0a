package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{FileInfo, TableMeta, VariableMeta}
import graft.obs.Meter
import graft.pipeline.FastData
import graft.sources.Toa5

/** A14/E4: the distributed shard writer must be byte-identical to the
  * driver-side single-file TOA5 writer run once per window, must not
  * leave anything in the CacheManager, and must run a job count that
  * does not grow with the window count (the round-3 shape ran one
  * filter+collect job per window and leaked a persist()). */
class FastDataSpec extends SparkSpec {

  private val meta = TableMeta(FileInfo.dummy, Seq(
    VariableMeta("TIMESTAMP", "TS", ""),
    VariableMeta("Ux", "m/s", "Smp"),
    VariableMeta("Diag", "", "Smp")))

  /** ~10 Hz rows spanning `nWindows` one-minute windows, with nulls
    * and a string column so quoting and NA paths are exercised. */
  private def frame(nWindows: Int): DataFrame = {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-03-05 10:00:00.1")
    val rows = (0 until nWindows * 600).map { i =>
      val ts = new java.sql.Timestamp(base.getTime + i * 100L)
      val ux = if (i % 97 == 0) None else Some(i * 0.01)
      (ts, ux, s"d$i")
    }
    // over an RDD, not a local relation: a second pass over the input
    // runs a job here, as it would over a real scan
    spark.sparkContext.parallelize(rows, 2).toDF("DATETIME", "Ux", "Diag")
  }

  test("writeShards is byte-identical to per-window Toa5.write") {
    val nWindows = 3
    val df = frame(nWindows)
    val out = Files.createTempDirectory("shards_dist")
    val names = FastData.writeShards(df, meta, "DATETIME", 1,
      out.toString, "Site_fast")
    assert(names.length == nWindows)
    assert(names == names.sorted)

    // reference shape: one driver-side ordered write per window
    val ref = Files.createTempDirectory("shards_ref")
    val bucketed = df.withColumn("__w",
      FastData.windowEnd(col("DATETIME"), 1))
    val windows = bucketed.select("__w").distinct()
      .orderBy("__w").collect().map(_.getTimestamp(0))
    windows.zip(names).foreach { case (w, name) =>
      val shard = bucketed.filter(col("__w") === lit(w)).drop("__w")
      Toa5.write(shard, meta, ref.resolve(name).toString, "DATETIME")
      val got = Files.readAllBytes(out.resolve(name))
      val want = Files.readAllBytes(ref.resolve(name))
      assert(java.util.Arrays.equals(got, want),
        s"shard $name differs from driver-side writer output")
    }
  }

  test("writeShards accepts a file:// URI outDir (Hadoop FileSystem path)") {
    val dir = Files.createTempDirectory("shards_uri")
    val uri = dir.toUri.toString // file:///...
    val names = FastData.writeShards(frame(2), meta, "DATETIME", 1,
      uri, "Site_fast")
    assert(names.length == 2)
    names.foreach { n =>
      assert(Files.exists(dir.resolve(n)), s"missing shard $n under $uri")
      assert(Files.size(dir.resolve(n)) > 0)
    }
  }

  test("writeShards leaves no cached RDDs behind") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val out = Files.createTempDirectory("shards_leak")
    FastData.writeShards(frame(2), meta, "DATETIME", 1,
      out.toString, "Site_fast")
    val added = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(added.isEmpty, s"leaked cached RDDs: $added")
  }

  test("writeShards job count is independent of window count") {
    val out1 = Files.createTempDirectory("shards_j1")
    val out2 = Files.createTempDirectory("shards_j2")
    val jobsSmall = Meter.on(spark).span("shards-small") {
      FastData.writeShards(frame(2), meta, "DATETIME", 1,
        out1.toString, "Site_fast")
    }._2.jobs.size
    val jobsBig = Meter.on(spark).span("shards-big") {
      FastData.writeShards(frame(8), meta, "DATETIME", 1,
        out2.toString, "Site_fast")
    }._2.jobs.size
    assert(jobsBig == jobsSmall,
      s"job count grew with windows: $jobsSmall -> $jobsBig")
    // One action: under AQE the window shuffle materializes as its own
    // map job, then one result job writes the shards and returns their
    // names. The scale property is the equality above (constant, not
    // O(windows)); the exact count pins that no second pass over the
    // input runs, which would add a job to both calls alike.
    assert(jobsSmall == 2, s"jobs per call: $jobsSmall")
  }

  test("writeShards on an empty frame writes nothing and returns no names") {
    val out = Files.createTempDirectory("shards_empty")
    val names = FastData.writeShards(frame(0), meta, "DATETIME", 1,
      out.toString, "Site_fast")
    assert(names.isEmpty)
    val dat = Files.list(out).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".dat")).toSeq
    assert(dat.isEmpty, s"shards written for an empty frame: $dat")
  }

  test("writeShards is one SQL execution with one exchange") {
    val out = Files.createTempDirectory("shards_qe")
    val df = frame(2)
    val (_, r) = Meter.on(spark).span("writeShards") {
      FastData.writeShards(df, meta, "DATETIME", 1, out.toString, "Site_fast")
    }
    val events = r.executions.map(e => (e.funcName, e.census.exchanges))
    assert(events == Seq(("writeShards", 1)), s"executions: $events")
  }
}
