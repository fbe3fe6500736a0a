package graft.tools

import java.nio.file.Files

import scala.collection.mutable

import org.apache.commons.io.FileUtils

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.obs.{Meter, Reading}
import graft.operators.Materialize
import graft.pipeline.Status.esc

/** The one factor harness behind the engine's scale claims (ROADMAP
  * aim 1: exchange counts that stay the same as the factor grows).
  * A [[Smoke]] is a table entry: a generator, phases and the smoke's
  * own assertions. The harness runs it at two factors in one session
  * and one [[Meter]]:
  *
  *  - every phase runs in a meter span and prints one JSON line per
  *    (smoke, phase, factor): wall, rows, jobs, stages, exchanges and
  *    executed joins, shuffle, spill, CPU, GC, execution and storage
  *    peaks;
  *  - every staged frame is a [[Materialize.checkpoint]], released
  *    when its factor ends; what operators cache or retain for the
  *    session (frames and packing substrates) is freed by [[cleanup]]
  *    once the smoke is done, so smokes may run on concurrent threads;
  *  - after both factors the smoke's cross-factor assertions run, then
  *    the invariance check: a phase's exchanges and jobs are equal at
  *    the two factors, unless the phase states in code why its plan
  *    depends on size (`sizeDependent`), in which case the reason and
  *    both counts are printed instead.
  *
  * A phase filter (comma-separated name prefixes) runs the named
  * phases alone; the smoke's cross-factor assertions, which may read
  * a skipped phase, then do not run, but the invariance check does.
  * `SmokesSpec` runs every entry at factors 1 and 2 over the sf0.001
  * tables; the full sizes are
  * `runMain graft.tools.Smokes <name|all> [factor] [sfDir] [phasePrefixes]`
  * (factor: each smoke's default; sfDir: the sf0.1 tables).
  */
object Smokes {

  abstract class Smoke(val name: String, val factor: Int) {
    /** Generates the smoke's input at `r.f` and runs its phases. */
    def run(r: Run): Unit

    /** The smoke's own assertions across its two runs. */
    def across(lo: Run, hi: Run): Unit = ()

    /** The two factors a run at `f` compares. */
    def factors(f: Int): (Int, Int) = (1, f)
  }

  /** Every smoke, the longest-running first. */
  val all: Seq[Smoke] = Seq(StreamSmokes.stream, SimSmokes.sim,
    TextSmokes.text, StreamSmokes.streamSketch, StreamSmokes.vocabFertility,
    EtlSmokes.l1, TextSmokes.scale, TextSmokes.hotKeyCap,
    MediaSmokes.mediaAv, MediaSmokes.mediaDedup, TextSmokes.bloom,
    SimSmokes.semSkew, EtlSmokes.fastData, TextSmokes.pps, TextSmokes.sketch)

  /** Connected components label a graph in one union-find task or in
    * label-propagation rounds, by its edge count against the task's
    * memory share: the rounds add jobs and exchanges. */
  val CcPath = "connectedComponents: union-find or propagation rounds, " +
    "chosen by edge count against UnionFind.taskShare"

  /** `text` normalized with the tokenizer's own alphabet, with the
    * `q<copy>` marker fused INTO every token ($1 backref keeps it
    * inside the alnum run), so the suffix survives tokenization and
    * shingles never collide ACROSS copies: pair and component counts
    * scale exactly linearly in the factor, and posting lists keep
    * their base-corpus lengths instead of multiplying into a quadratic
    * blow-up no real corpus has. (A space-adjacent marker is NOT
    * enough: anything the normalizer maps to a separator becomes its
    * own token between every pair of words, and a shared single word
    * then yields a shared shingle; a first draft produced a 4700×
    * pair explosion at factor 10 exactly that way.) Copy 0 carries
    * `q0`, so factor 1 runs the SAME synthesis and the two corpora are
    * isomorphic. */
  val Marked: Column = expr("regexp_replace(regexp_replace(lower(text), " +
    "'[^a-z0-9]+', ' '), '([a-z0-9]+)', '$1q' || copy)")

  def json(fields: (String, Any)*): String = fields.map {
    case (k, v: String) => s""""$k":"${esc(v)}""""
    case (k, v: Double) => f""""$k":$v%.3f"""
    case (k, v: Seq[_]) => s""""$k":${v.mkString("[", ",", "]")}"""
    case (k, v) => s""""$k":$v"""
  }.mkString("{", ",", "}")

  /** One smoke at one factor `f`. */
  final class Run(val spark: SparkSession, meter: Meter, val smoke: String,
      val f: Int, sfDir: String, only: Seq[String]) {
    val readings = mutable.LinkedHashMap.empty[String, Reading]
    val rows = mutable.Map.empty[String, Long]
    val reasons = mutable.Map.empty[String, String]
    private val staged = mutable.ArrayBuffer.empty[DataFrame]
    private lazy val root = Files.createTempDirectory(s"graft_${smoke}_f${f}_")

    private def on(phase: String): Boolean =
      only.isEmpty || only.exists(phase.startsWith)

    def info(fields: (String, Any)*): Unit =
      println(json(Seq("smoke" -> smoke, "factor" -> f) ++ fields: _*))

    /** Runs `body` as the phase `name` unless the filter skips it;
      * `rows` is the figure its line reports. */
    def phase[A](name: String, sizeDependent: String = "")(body: => A)
        (n: A => Long): Option[A] = if (!on(name)) None else {
      val (out, r) = meter.span(s"$smoke.$name")(body)
      readings(name) = r
      rows(name) = n(out)
      if (sizeDependent.nonEmpty) reasons(name) = sizeDependent
      def mb(b: Long) = b / 1048576.0
      info("phase" -> name, "sec" -> r.wallS, "rows" -> rows(name),
        "jobs" -> r.jobs.size, "stages" -> r.stages,
        "exchanges" -> r.census.exchanges, "joins" -> r.census.joinLine,
        "shuf_read_mb" -> mb(r.shuffleReadBytes),
        "shuf_write_mb" -> mb(r.shuffleWriteBytes),
        "spill_mb" -> mb(r.spillMemBytes + r.spillDiskBytes),
        "cpu_sec" -> r.cpuS, "gc_sec" -> r.gcS,
        "peak_exec_mb" -> mb(r.peakExecBytes),
        "peak_storage_mb" -> mb(r.peakStorageBytes))
      Some(out)
    }

    /** A phase whose rows are the Long it returns. */
    def count(name: String, sizeDependent: String = "")(body: => Long): Option[Long] =
      phase(name, sizeDependent)(body)(identity)

    /** A phase that builds a frame and counts it inside the span (an
      * operator that materializes at call time must do so in it). */
    def frame(name: String, sizeDependent: String = "")
        (mk: => DataFrame): Option[DataFrame] =
      phase(name, sizeDependent) { val df = mk; (df, df.count()) }(_._2).map(_._1)

    /** `df` checkpointed, released when this factor ends. */
    def stage(df: DataFrame): DataFrame = {
      val ck = Materialize.checkpoint(df)
      staged += ck
      ck
    }

    /** A fresh directory `name` under this factor's temporary root,
      * deleted when the factor ends. */
    def dir(name: String): String = {
      val d = root.resolve(name)
      FileUtils.deleteQuietly(d.toFile)
      d.toString
    }

    def release(): Unit = {
      staged.foreach(Materialize.release)
      if (Files.exists(root)) FileUtils.deleteQuietly(root.toFile)
    }

    def table(name: String): DataFrame = spark.read.parquet(s"$sfDir/$name.parquet")

    /** The sf `documents` table amplified `f`×: copy `c` of doc `d` is
      * doc `d * f + c` with `text` as given (by default [[Marked]]),
      * carrying `cols`. */
    def documents(cols: Seq[String] = Nil, text: Column = Marked): DataFrame =
      table("documents")
        .withColumn("copy", explode(sequence(lit(0), lit(f - 1))))
        .select(((col("doc_id") * f + col("copy")).as("doc_id") +:
          cols.map(col)) :+ text.as("text"): _*)

    /** The sf `embeddings` table amplified `f`×. Copy `c` of vector `v`
      * is re-keyed to `vec_id * f + c` (copy 0 is id-isomorphic to the
      * base under id -> id * f), its elements sign-flipped by parity of
      * murmur3(c, dim): identity for c = 0, a fixed diagonal orthogonal
      * transform for every other copy, so WITHIN-copy cosines are
      * preserved exactly while cross-copy cosines collapse to the
      * random-pair distribution. The repartition models a real lake
      * read: a corpus this size arrives split across input tasks, not
      * as the single partition a one-file test parquet yields (without
      * it the broadcast-side assignment joins run on one core and the
      * smoke measures the harness, not the operator). */
    def embeddings(): DataFrame =
      table("embeddings")
        .withColumn("copy", explode(sequence(lit(0), lit(f - 1))))
        .select((col("vec_id") * f + col("copy")).as("vec_id"),
          when(col("copy") === 0, col("embedding")).otherwise(
            expr("transform(embedding, (x, i) -> " +
              "x * cast(1 - 2 * pmod(hash(copy, i), 2) as float))"))
            .as("embedding"))
        .repartition(math.max(1, spark.sessionState.conf.numShufflePartitions))
  }

  /** Runs `smoke` at factors `lo` and `hi`, then its own cross-factor
    * assertions and the invariance check. */
  def run(spark: SparkSession, smoke: Smoke, lo: Int, hi: Int,
      sfDir: String, only: Seq[String] = Nil): Unit = {
    val meter = Meter.on(spark)
    val Seq(a, b) = Seq(lo, hi).map { f =>
      val r = new Run(spark, meter, smoke.name, f, sfDir, only)
      try smoke.run(r) finally r.release()
      r
    }
    if (only.isEmpty) smoke.across(a, b)
    for ((phase, ra) <- a.readings; rb <- b.readings.get(phase)) {
      val counts = Seq("exchanges" -> Seq(ra, rb).map(_.census.exchanges),
        "jobs" -> Seq(ra, rb).map(_.jobs.size))
      a.reasons.get(phase) match {
        case Some(why) => println(json(Seq("smoke" -> smoke.name,
          "phase" -> phase, "size_dependent" -> why) ++ counts: _*))
        case None => counts.foreach { case (k, Seq(x, y)) =>
          assert(x == y, s"${smoke.name}.$phase: $k $x at factor $lo " +
            s"but $y at factor $hi")
        }
      }
    }
  }

  /** Frees what operators cached or retained for the session. */
  def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.text.PackOps.releaseSubstrates()
  }

  def main(args: Array[String]): Unit = {
    val which = args.headOption.getOrElse("all")
    val smokes = if (which == "all") all else all.filter(_.name == which)
    require(smokes.nonEmpty,
      s"no smoke named $which; one of all, ${all.map(_.name).mkString(", ")}")
    val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val only = args.lift(3).toSeq.flatMap(_.split(",")).map(_.trim)
      .filter(_.nonEmpty)
    val spark = graft.GraftSession()
    // every smoke runs; the failed ones are named at the end
    val failed = try smokes.flatMap { s =>
      val (lo, hi) = s.factors(args.lift(1).map(_.toInt).getOrElse(s.factor))
      val out = scala.util.Try(run(spark, s, lo, hi, sfDir, only))
      cleanup(spark)
      out.failed.toOption.map { e =>
        println(json("smoke" -> s.name, "failed" -> String.valueOf(e.getMessage)))
        s.name
      }
    } finally spark.stop()
    require(failed.isEmpty, s"smokes failed: ${failed.mkString(", ")}")
  }
}
