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
  * driver-side single-file TOA5 writer run once per window, whatever
  * its packing of windows into tasks, must not leave anything in the
  * CacheManager, and must run a job count that does not grow with the
  * window count (the round-3 shape ran one filter+collect job per
  * window and leaked a persist()). */
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

  /** Asserts the shards `names` under `out` are what one driver-side
    * `Toa5.write` per window of `df` writes. */
  private def assertPerWindowWrites(df: DataFrame, names: Seq[String],
      out: Path): Unit = {
    val ref = Files.createTempDirectory("shards_ref")
    val bucketed = df.withColumn("__w",
      FastData.windowEnd(col("DATETIME"), 1))
    val windows = bucketed.select("__w").distinct()
      .orderBy("__w").collect().map(_.getTimestamp(0))
    assert(names.length == windows.length)
    windows.zip(names).foreach { case (w, name) =>
      val shard = bucketed.filter(col("__w") === lit(w)).drop("__w")
      Toa5.write(shard, meta, ref.resolve(name).toString, "DATETIME")
      val got = Files.readAllBytes(out.resolve(name))
      val want = Files.readAllBytes(ref.resolve(name))
      assert(java.util.Arrays.equals(got, want),
        s"shard $name differs from driver-side writer output")
    }
  }

  test("writeShards is byte-identical to per-window Toa5.write") {
    val nWindows = 3
    val df = frame(nWindows)
    val out = Files.createTempDirectory("shards_dist")
    val names = FastData.writeShards(df, meta, "DATETIME", 1,
      out.toString, "Site_fast")
    assert(names.length == nWindows)
    assert(names == names.sorted)
    assertPerWindowWrites(df, names, out)
  }

  for (n <- Seq(1, 3, 7)) {
    test(s"one window per task is byte-identical at $n shuffle partitions") {
      val confs = Map("spark.sql.shuffle.partitions" -> n.toString,
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
      val old = confs.keys.map(k => k -> spark.conf.get(k)).toMap
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val df = frame(5)
        val out = Files.createTempDirectory(s"shards_p$n")
        // every window holds 600 rows, so a 600-row budget packs one
        // window per task
        val names = FastData.writeShards(df, meta, "DATETIME", 1,
          out.toString, "Site_fast", 600)
        assertPerWindowWrites(df, names, out)
      } finally old.foreach { case (k, v) => spark.conf.set(k, v) }
    }
  }

  test("the write runs one task per packed run, under AQE") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    // five 600-row windows: one per task, then 2 + 2 + 1 per task; the
    // two calls differ only in the write's result tasks, because AQE
    // does not coalesce a shuffle whose partition count was given
    def tasks(budget: Long): Int = Meter.on(spark).span(s"runs$budget") {
      FastData.writeShards(frame(5), meta, "DATETIME", 1,
        Files.createTempDirectory("shards_runs").toString, "Site_fast",
        budget)
    }._2.tasks
    val (one, packed) = (tasks(600), tasks(1200))
    assert(one - packed == 5 - 3, s"tasks: $one at 600 rows, $packed at 1200")
  }

  test("a null timestamp fails the write by name and writes nothing") {
    import spark.implicits._
    val t = java.sql.Timestamp.valueOf("2024-03-05 10:00:00.1")
    val df = Seq((Some(t), 1.0, "a"), (None, 2.0, "b"))
      .toDF("DATETIME", "Ux", "Diag")
    val out = Files.createTempDirectory("shards_null")
    val e = intercept[IllegalArgumentException] {
      FastData.writeShards(df, meta, "DATETIME", 1, out.toString, "Site_fast")
    }
    assert(e.getMessage.contains("writeShards: null DATETIME"), e)
    assert(Files.list(out).count() == 0)
  }

  private def assertPlan(counts: Seq[(Long, Long)], budget: Long): Unit = {
    val runs = FastData.packWindows(counts, budget)
    assert(runs.flatten == counts,
      s"windows lost, duplicated or reordered: $runs")
    assert(runs.forall(_.nonEmpty), s"an empty task: $runs")
    runs.foreach { r =>
      assert(r.map(_._2).sum <= budget || r.size == 1,
        s"task over budget $budget with ${r.size} windows: $r")
    }
    // greedy: a task is closed only by a window that would not fit it
    runs.sliding(2).filter(_.size == 2).foreach { case Seq(a, b) =>
      assert(a.map(_._2).sum + b.head._2 > budget, s"task closed early: $a | $b")
    }
  }

  test("packWindows puts every window in exactly one task, in order") {
    val step = 1800L * 1000000L
    val uniform = (1L to 96L).map(i => (i * step, 18000L))
    assertPlan(uniform, 131072L)
    assert(FastData.packWindows(uniform, 131072L).map(_.size) ==
      Seq.fill(13)(7) :+ 5)
    val rnd = new scala.util.Random(7)
    Seq(1L, 500L, 5000L, 1L << 20).foreach { budget =>
      val ragged = (1L to 200L).map(i => (i * step, 1L + rnd.nextInt(3000)))
      assertPlan(ragged, budget)
    }
    assert(FastData.packWindows(Seq.empty, 10L).isEmpty)
  }

  test("packWindows gives an oversize window a task of its own") {
    val counts = Seq((1L, 3L), (2L, 50L), (3L, 4L), (4L, 4L), (5L, 60L))
    assertPlan(counts, 10L)
    assert(FastData.packWindows(counts, 10L).map(_.map(_._1)) ==
      Seq(Seq(1L), Seq(2L), Seq(3L, 4L), Seq(5L)))
  }

  test("packWindows makes no empty task over gapped and outlier windows") {
    val step = 1800L * 1000000L
    // a month-long gap, and a logger-clock outlier decades away
    val counts = Seq((-20L * 365 * 48 * step, 1L), (step, 9000L),
      (2 * step, 9000L), (1500 * step, 18000L), (1501 * step, 2L))
    assertPlan(counts, 18000L)
    assert(FastData.packWindows(counts, 18000L).map(_.map(_._1)) == Seq(
      Seq(counts(0)._1, step), Seq(2 * step), Seq(1500 * step),
      Seq(1501 * step)))
  }

  test("rowBudget: the sort's rows and pointer array fit one page") {
    // a 16 MiB page and 44-byte rows (4 fixed-width fields, 4-byte
    // length prefix): 2^17 rows take a 4 MiB pointer array (6 MiB while
    // it grows) and 5.5 MiB of rows; 2^17 + 1 would need an 8 MiB array
    assert(FastData.rowBudget(16L << 20, 44) == (1L << 17))
    Seq((1L << 20, 44L), (16L << 20, 44L), (64L << 20, 44L),
        (64L << 20, 200L)).foreach { case (page, row) =>
      val r = FastData.rowBudget(page, row)
      val cap = Iterator.iterate(1024L)(_ * 2).find(_ >= r).get
      assert(r * row + 48 * cap <= page, s"page $page row $row: $r rows")
      val capNext = Iterator.iterate(1024L)(_ * 2).find(_ >= r + 1).get
      assert((r + 1) * row + 48 * capNext > page,
        s"page $page row $row: ${r + 1} rows would still fit")
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
    // Two actions, each a shuffle map job then a result job under AQE:
    // the counting pass, then the write, which returns the shard
    // names. The scale property is the equality above (constant, not
    // O(windows)); the exact count pins that no third pass over the
    // input runs, which would add a job to both calls alike.
    assert(jobsSmall == 4, s"jobs per call: $jobsSmall")
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

  test("writeShards is the counting pass and the write, one exchange each") {
    val out = Files.createTempDirectory("shards_qe")
    val df = frame(2)
    val (_, r) = Meter.on(spark).span("writeShards") {
      FastData.writeShards(df, meta, "DATETIME", 1, out.toString, "Site_fast")
    }
    val events = r.executions.map(e => (e.funcName, e.census.exchanges))
    assert(events == Seq(("collect", 1), ("writeShards", 1)),
      s"executions: $events")
  }
}
