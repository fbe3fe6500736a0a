package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Job, task and storage counters of one rep, fed by the listener bus.
  * Always registered: the end-to-end `cpu_s` and `mem_peak_mb` come
  * from here in untraced reps too. */
final class RunListener(cores: Int) extends SparkListener {
  final class Job(val startMs: Long, val group: String) { var endMs = -1L }
  final class Stage {
    var cpuNs = 0L; var shuffleWrite = 0L; var spill = 0L
    val execPeaks = mutable.ArrayBuffer.empty[Long]
  }
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stageJob = mutable.HashMap.empty[Int, Int]
  val stages = mutable.HashMap.empty[Int, Stage]
  // live RDD-block bytes (caches and checkpoints), keyed by block name
  private val blocks = mutable.HashMap.empty[String, Long]
  private var live = 0L
  private var peak = 0L

  def reset(): Unit = synchronized {
    jobs.clear(); stageJob.clear(); stages.clear(); peak = live
  }

  /** Peak Spark-accounted memory since [[reset]]: resident RDD blocks
    * plus, at each stage end, the execution memory of the stage's
    * `cores` hungriest tasks (the most that can run at once). */
  def memPeakBytes: Long = synchronized(peak)
  def cpuNs: Long = synchronized(stages.valuesIterator.map(_.cpuNs).sum)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .map(_.getProperty("spark.jobGroup.id")).orNull
    jobs(e.jobId) = new Job(e.time, group)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stages.getOrElseUpdate(e.stageId, new Stage)
      s.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled
      s.execPeaks += m.peakExecutionMemory
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages.get(e.stageInfo.stageId).foreach { s =>
        val concurrent = s.execPeaks.sorted(Ordering[Long].reverse)
          .take(cores).sum
        peak = math.max(peak, live + concurrent)
      }
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val i = e.blockUpdatedInfo
      if (i.blockId.isRDD) {
        val key = i.blockId.name
        val size =
          if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
        live += size - blocks.getOrElse(key, 0L)
        if (size == 0L) blocks.remove(key) else blocks(key) = size
        peak = math.max(peak, live)
      }
    }
}

/** Catalyst phase times and the executed-plan exchange census of every
  * action; registered for traced reps only. */
final class PlanListener extends QueryExecutionListener {
  final case class Query(atMs: Long, planMs: Long, exchanges: Int)
  val queries = mutable.ArrayBuffer.empty[Query]

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    // the planning phase runs at the action, inside the caller's span;
    // analysis may have run earlier, where the Dataset was built
    val atMs = phases.get("planning").orElse(
      phases.values.maxByOption(_.startTimeMs))
      .map(_.startTimeMs).getOrElse(System.currentTimeMillis())
    val ex = PlanListener.exchanges(qe.executedPlan)
    synchronized { queries += Query(atMs, planMs, ex) }
  }

  def clear(): Unit = synchronized(queries.clear())
}

object PlanListener {
  /** Exchange nodes plus AQE shuffle reads in an executed plan,
    * descending into adaptive query stages and command children. */
  def exchanges(p: SparkPlan): Int = {
    val own = p match {
      case _: Exchange | _: AQEShuffleReadExec => 1
      case _ => 0
    }
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => p.children ++ p.subqueries ++
        p.innerChildren.collect { case c: SparkPlan => c }
    }
    own + kids.map(exchanges).sum
  }
}

/** Spans around the benchmark's calls into the engine. A span is one
  * job group; jobs, tasks and queries are attributed to the innermost
  * span that was open when they started. With tracing off, [[span]]
  * only runs its body. */
final class Tracer(spark: SparkSession, cores: Int) {
  private val sc = spark.sparkContext
  val run = new RunListener(cores)
  sc.addSparkListener(run)
  private val plans = new PlanListener

  final class Span(val id: Int, val name: String, val tag: String,
      val parent: Int, val startNs: Long) {
    var endNs = -1L
    var storageBytes = -1L
  }
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var tracing = false
  // wall-clock anchor: listener events carry epoch milliseconds
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  private def toMs(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6

  def beginRep(traced: Boolean): Unit = {
    PerfbenchBus.drain(sc)
    run.reset(); plans.clear(); spans.clear(); open = Nil
    tracing = traced
    if (traced) spark.listenerManager.register(plans)
  }

  def endRep(): Unit = {
    PerfbenchBus.drain(sc)
    if (tracing) spark.listenerManager.unregister(plans)
  }

  def span[A](name: String, tag: String = "")(body: => A): A =
    if (!tracing) body
    else {
      val s = new Span(spans.size, name, tag,
        open.headOption.map(_.id).getOrElse(-1), System.nanoTime())
      spans += s
      open = s :: open
      sc.setJobGroup(s"pb-${s.id}", name)
      try body
      finally {
        s.endNs = System.nanoTime()
        if (Layers.ckptSpans(name))
          s.storageBytes = sc.getRDDStorageInfo
            .map(i => i.memSize + i.diskSize).sum
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(s"pb-${p.id}", p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Durations in seconds of the spans named `name` carrying `tag`. */
  def durations(name: String, tag: String): Seq[Double] =
    spans.filter(s => s.name == name && s.tag == tag)
      .map(s => (s.endNs - s.startNs) / 1e9).toSeq

  /** Per-span-name metrics of the finished rep (call after [[endRep]]).
    * Everything except site durations is exclusive: a job, query or
    * interval belongs to the innermost open span only. */
  def layerMetrics(): (Map[String, Double], Double) = {
    val byId = spans.map(s => s.id -> s).toMap
    val children = spans.groupBy(_.parent)
    def deepestAt(ms: Double): Option[Span] =
      spans.filter(s => toMs(s.startNs) <= ms && ms <= toMs(s.endNs))
        .maxByOption(s => (s.startNs, s.id))
    val jobSpan: Map[Int, Span] = run.synchronized {
      run.jobs.toSeq.flatMap { case (id, j) =>
        val byGroup = Option(j.group).filter(_.startsWith("pb-"))
          .flatMap(g => byId.get(g.drop(3).toInt))
        byGroup.orElse(deepestAt(j.startMs.toDouble)).map(id -> _)
      }.toMap
    }
    val busy: Seq[(Double, Double)] = run.synchronized {
      val endAll = spans.map(s => toMs(s.endNs)).maxOption.getOrElse(0.0)
      merge(run.jobs.values.map(j => (j.startMs.toDouble,
        if (j.endMs < 0) endAll else j.endMs.toDouble)).toSeq)
    }
    val out = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = out(k) = out(k) + v
    var selfTotal = 0.0
    spans.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).toSeq
        .map(k => (toMs(k.startNs), toMs(k.endNs))).sortBy(_._1)
      val selfIv = subtract(Seq((toMs(s.startNs), toMs(s.endNs))), kids)
      val selfS = selfIv.map { case (a, b) => b - a }.sum / 1e3
      selfTotal += selfS
      add(s"${s.name}.self_s", selfS)
      add(s"${s.name}.driver_s",
        subtract(selfIv, busy).map { case (a, b) => b - a }.sum / 1e3)
      if (s.storageBytes >= 0)
        out(s"${s.name}.ckpt_mb") = math.max(out(s"${s.name}.ckpt_mb"),
          s.storageBytes / 1048576.0)
    }
    run.synchronized {
      jobSpan.foreach { case (_, s) => add(s"${s.name}.jobs", 1) }
      run.stages.foreach { case (stageId, st) =>
        run.stageJob.get(stageId).flatMap(jobSpan.get).foreach { s =>
          add(s"${s.name}.cpu_s", st.cpuNs / 1e9)
          add(s"${s.name}.shuffle_mb", st.shuffleWrite / 1048576.0)
          add(s"${s.name}.spill_mb", st.spill / 1048576.0)
        }
      }
    }
    plans.synchronized {
      plans.queries.foreach { q =>
        deepestAt(q.atMs.toDouble).foreach { s =>
          add(s"${s.name}.plan_ms", q.planMs.toDouble)
          add(s"${s.name}.exchanges", q.exchanges.toDouble)
        }
      }
    }
    (out.toMap, selfTotal)
  }

  /** Sorted union of intervals. */
  private def merge(iv: Seq[(Double, Double)]): Seq[(Double, Double)] =
    iv.sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((a, b) :: rest, (c, d)) if c <= b => (a, math.max(b, d)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  /** `from` minus the union of `cut` (both as interval lists). */
  private def subtract(from: Seq[(Double, Double)],
      cut: Seq[(Double, Double)]): Seq[(Double, Double)] = {
    val holes = merge(cut)
    from.flatMap { case (a0, b) =>
      val pieces = mutable.ArrayBuffer.empty[(Double, Double)]
      var a = a0
      holes.foreach { case (c, d) =>
        if (d > a && c < b) {
          if (c > a) pieces += ((a, c))
          a = math.max(a, d)
        }
      }
      if (a < b) pieces += ((a, b))
      pieces.toSeq
    }
  }
}
