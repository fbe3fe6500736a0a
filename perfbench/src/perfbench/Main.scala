package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark workload: seeded inputs on disk, then reps that turn
  * them into checked outputs through the engine's public functions. */
trait Workload {
  /** Writes the inputs and `truth.json` for `seed` under `in`. */
  def generate(spark: SparkSession, seed: Long, in: Path): Unit
  /** One rep from `in` to outputs under `out`, each operation and its
    * output check counted in `ops`. Returns the output digest. */
  def rep(spark: SparkSession, t: Tracer, in: Path, out: Path,
      ops: Ops): String
}

final class CheckFailed(msg: String) extends RuntimeException(msg)

/** Operation tally: one operation is one site task or one stage call
  * together with its output check; a throw or a failed check fails it. */
final class Ops {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def fail(label: String, why: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += s"$label: $why"
  }

  /** Runs one operation; a throw is recorded and swallowed. */
  def op(label: String)(body: => Unit): Unit = {
    attempted += 1
    try body
    catch { case scala.util.control.NonFatal(e) =>
      fail(label, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
  }
}

object Check {
  def apply(ok: Boolean, what: => String): Unit =
    if (!ok) throw new CheckFailed(what)

  def equal[A](what: String, got: A, want: A): Unit =
    apply(got == want, s"$what: got $got, want $want")
}

object Main {
  val Workloads: Map[String, Workload] = Map(
    "network_nightly" -> NetworkNightly,
    "corpus_dedup" -> CorpusDedup)

  private val SetupRounds = 5

  /** The session contract the engine's queries assume (UTC, nanosAsLong,
    * no NTZ inference), the engine's extensions, and a working tree
    * confined to `work`. */
  def session(cores: Int, work: Path): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      // caches and checkpoints leave only by explicit unpersist, not
      // whenever a GC lets the cleaner drop them: peak resident
      // storage is then the same on every rep
      .config("spark.cleaner.referenceTracking", "false")
      // the corpus chain plans ~150 queries a rep: with Spark's default
      // of 100 cached generated classes every rep compiles its code
      // again, and the JIT compiles the fresh classes again
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .getOrCreate()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def rmTree(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .forEach(q => Files.delete(q))

  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val workload = Workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    val in = work.resolve("in")
    val out = work.resolve("out")

    // set-up: session under the contract + warm-up query, several
    // times; the last session runs the workload
    var spark: SparkSession = null
    val setups = (1 to SetupRounds).map { i =>
      val t0 = System.nanoTime()
      spark = session(cores, work)
      spark.range(1000000L).selectExpr("sum(id)").collect()
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < SetupRounds) spark.stop()
      dt
    }

    val g0 = System.nanoTime()
    workload.generate(spark, seed, in)
    val genS = (System.nanoTime() - g0) / 1e9

    val tracer = new Tracer(spark, cores)
    val ops = new Ops
    val digests = mutable.LinkedHashSet.empty[String]
    final case class Rep(traced: Boolean, wall: Double, cpu: Double,
        memMb: Double, jobs: Int, layers: Map[String, Double],
        coverage: Double)
    val reps = mutable.ArrayBuffer.empty[Rep]

    def oneRep(traced: Boolean): Rep = {
      rmTree(out)
      Files.createDirectories(out)
      tracer.beginRep(traced)
      val gc0 = gcSeconds()
      val t0 = System.nanoTime()
      workload.rep(spark, tracer, in, out, ops) match {
        case d if d.nonEmpty => digests += d
        case _ =>
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val gc = gcSeconds() - gc0
      tracer.endRep()
      val (layers, covered) =
        if (traced) {
          val (m, self) = tracer.layerMetrics()
          val sites = tracer.durations(Layers.SiteTask, "site").sorted
          // tail: the highest percentile with >= 10 sites beyond it;
          // with fewer than 11 sites there is none, and the slowest
          // site stands in
          val tail = if (sites.size > 10) sites(sites.size - 11)
            else sites.lastOption.getOrElse(0.0)
          (m ++ Map(s"${Layers.SiteTask}.site_p50_s" -> median(sites),
            s"${Layers.SiteTask}.site_tail_s" -> tail,
            "executor.gc_s" -> gc), self / wall)
        } else (Map.empty[String, Double], 0.0)
      // release the rep's caches and checkpoints outside the timed wall
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      Rep(traced, wall, tracer.run.cpuNs / 1e9,
        tracer.run.memPeakBytes / 1048576.0, tracer.run.jobs.size, layers,
        covered)
    }

    // One untimed rep first takes the class loading, JIT and codegen
    // warm-up: on a shared few-core host a cold rep mostly measures how
    // fast the JIT threads got their share of the cores. Timed reps then
    // run until `seconds` have passed, at least one. A traced run
    // alternates untraced and traced reps after the warm-up, so the two
    // compare warm against warm and their wall ratio is the tracing
    // overhead.
    oneRep(traced = false)
    val m0 = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - m0) / 1e9
    while (elapsed < seconds || reps.isEmpty ||
        (trace && !reps.exists(_.traced))) {
      reps += oneRep(traced = trace && i % 2 == 1)
      i += 1
    }
    if (digests.size > 1)
      ops.fail("digest", s"outputs differ between reps: $digests")

    val plain = reps.filterNot(_.traced)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", median(setups), "s"),
        ("wall_s", median(plain.map(_.wall).toSeq), "s"),
        ("cpu_s", median(plain.map(_.cpu).toSeq), "s"),
        ("mem_peak_mb", median(plain.map(_.memMb).toSeq), "MB"))
      else {
        val traced = reps.filter(_.traced).toSeq
        val overhead = 100.0 * (median(traced.map(_.wall)) /
          median(plain.map(_.wall).toSeq) - 1.0)
        Layers.metrics.map { case (m, u) =>
          val v = if (m == "trace.overhead_pct") overhead
            else median(traced.map(_.layers.getOrElse(m, 0.0)))
          (m, v, u)
        }
      }

    val result = Map(
      "workload" -> name, "seed" -> seed, "trace" -> trace,
      "attempted" -> ops.attempted, "failed" -> ops.failed,
      "failures" -> ops.failures.toSeq,
      "digest" -> digests.headOption.getOrElse(""),
      "gen_s" -> genS, "setup_runs_s" -> setups,
      "reps" -> reps.map(r => Map("traced" -> r.traced, "wall_s" -> r.wall,
        "cpu_s" -> r.cpu, "mem_peak_mb" -> r.memMb, "jobs" -> r.jobs,
        "span_coverage" -> r.coverage)).toSeq,
      "metrics" -> metrics.map { case (m, v, u) =>
        m -> Map("value" -> v, "unit" -> u) }.toMap)
    spark.stop()
    println(Json.render(result))
  }
}

/** Minimal JSON rendering for the benchmark's own reports. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] => m.toSeq
      .sortBy(_._1.toString)
      .map { case (k, x) => quote(k.toString) + ": " + render(x) }
      .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def write(path: Path, v: Any): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, render(v).getBytes("UTF-8"))
  }
}
