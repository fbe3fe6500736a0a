package graft.obs

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftbridge.MeterBridge
import org.apache.spark.storage.{BlockId, BlockManagerId}

/** Exchanges and join strategies of a physical plan. */
private[graft] final case class Census(exchanges: Int,
    joins: Map[String, Int]) {
  def +(o: Census): Census = Census(exchanges + o.exchanges,
    (joins.toSeq ++ o.joins).groupMapReduce(_._1)(_._2)(_ + _))

  /** `bhj=0,smj=1,shj=0,bnlj=0,cart=0`. */
  def joinLine: String =
    Census.JoinKinds.map(k => s"$k=${joins.getOrElse(k, 0)}").mkString(",")
}

private[graft] object Census {
  val JoinKinds: Seq[String] = Seq("bhj", "smj", "shj", "bnlj", "cart")
  val Empty: Census = Census(0, Map.empty)

  /** One walk over the plan's nodes. An adaptive plan is read through
    * its current plan (the final one once it has run), a query stage
    * through the plan it wraps and a cached relation through the plan
    * that fills it; a reused exchange is not a new shuffle and is not
    * counted. */
  def of(plan: SparkPlan): Census = {
    var exchanges = 0
    val joins = mutable.Map.empty[String, Int].withDefaultValue(0)
    def walk(p: SparkPlan): Unit = {
      p match {
        case _: Exchange => exchanges += 1
        case _: BroadcastHashJoinExec => joins("bhj") += 1
        case _: SortMergeJoinExec => joins("smj") += 1
        case _: ShuffledHashJoinExec => joins("shj") += 1
        case _: BroadcastNestedLoopJoinExec => joins("bnlj") += 1
        case _: CartesianProductExec => joins("cart") += 1
        case _ =>
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
        case _ => (p.children ++ p.subqueries).foreach(walk)
      }
    }
    walk(plan)
    Census(exchanges, joins.toMap)
  }
}

/** What one [[Meter.span]] ran: its wall time, the jobs that ended in
  * it, and the stage, task and SQL-execution counters of its job
  * group. `tasks` counts the tasks that ended; `peakExecBytes` is the
  * largest execution memory of one task; `peakStorageBytes` the most
  * RDD-block bytes resident at once while the span was open, whoever
  * cached them. */
private[graft] final case class Reading(
    wallNs: Long,
    jobs: Seq[Reading.Job],
    stages: Int,
    tasks: Int,
    cpuNs: Long,
    gcMs: Long,
    shuffleReadBytes: Long,
    shuffleReadRecords: Long,
    shuffleWriteBytes: Long,
    shuffleWriteRecords: Long,
    spillMemBytes: Long,
    spillDiskBytes: Long,
    peakExecBytes: Long,
    peakStorageBytes: Long,
    executions: Seq[Reading.Execution]) {
  def wallS: Double = wallNs / 1e9
  def cpuS: Double = cpuNs / 1e9
  def gcS: Double = gcMs / 1e3

  /** Exchanges and join strategies summed over the executions. */
  def census: Census = executions.map(_.census).foldLeft(Census.Empty)(_ + _)
}

private[graft] object Reading {
  /** `name` is the result stage's name, which carries the action's call
    * site ("count at X.scala:12"). */
  final case class Job(id: Int, name: String, durationMs: Long)
  /** `funcName` is the action's name ("collect", "save", ...), empty
    * for an unnamed execution; the census is of the executed plan. */
  final case class Execution(id: Long, funcName: String, census: Census)
}

/** The engine's one run instrument: a listener on one SparkContext
  * that meters [[span]]s. A span is a job group of its own, so work is
  * attributed by the group it ran under, not by when it ran: two spans
  * on two threads each read only their own jobs and executions, and
  * work inside a nested span counts toward the nested span only. */
private[graft] final class Meter private (private val sc: SparkContext)
    extends SparkListener {

  private final class Acc {
    val jobs = mutable.ArrayBuffer.empty[Reading.Job]
    val executions = mutable.ArrayBuffer.empty[Reading.Execution]
    var stages, tasks, cpuNs, gcMs, readBytes, readRecs, writeBytes,
      writeRecs, spillMem, spillDisk, peakExec, peakStorage = 0L

    def reading(wallNs: Long): Reading = Reading(wallNs, jobs.toSeq,
      stages.toInt, tasks.toInt, cpuNs, gcMs, readBytes, readRecs,
      writeBytes, writeRecs, spillMem, spillDisk, peakExec, peakStorage,
      executions.toSeq)
  }

  // all state below is guarded by `this`
  private val open = mutable.HashMap.empty[String, Acc]
  private val jobSpans = mutable.HashMap.empty[Int, (Acc, String, Long)]
  private val stageSpans = mutable.HashMap.empty[Int, Acc]
  private val executionSpans = mutable.HashMap.empty[Long, Acc]
  private val blocks = mutable.HashMap.empty[(BlockManagerId, BlockId), Long]
  private var live = 0L
  private var nextId = 0L

  private def spanOf(props: java.util.Properties): Option[Acc] =
    Option(props).flatMap(p => Option(p.getProperty(Meter.GroupId)))
      .flatMap(open.get)

  /** Runs `body` under a job group of its own and returns its result
    * with everything it ran. The caller's job group is restored. */
  def span[A](name: String)(body: => A): (A, Reading) = {
    val saved = Meter.GroupProps.map(k => k -> sc.getLocalProperty(k))
    val (group, acc) = synchronized {
      nextId += 1
      val acc = new Acc
      acc.peakStorage = live
      val group = s"graft-meter-$nextId"
      open(group) = acc
      (group, acc)
    }
    try {
      sc.setJobGroup(group, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      val out = body
      val wallNs = System.nanoTime() - t0
      MeterBridge.drain(sc)
      (out, synchronized(acc.reading(wallNs)))
    } finally {
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      synchronized(open.remove(group))
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach { a =>
      val name = e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("")
      jobSpans(e.jobId) = (a, name, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpans.remove(e.jobId).foreach { case (a, name, t0) =>
      a.jobs += Reading.Job(e.jobId, name, e.time - t0)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      spanOf(e.properties).foreach(stageSpans(e.stageInfo.stageId) = _)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageSpans.remove(e.stageInfo.stageId).foreach(_.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageSpans.get(e.stageId).foreach { a =>
      a.tasks += 1
      a.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
      a.gcMs += m.jvmGCTime
      a.readBytes += m.shuffleReadMetrics.totalBytesRead
      a.readRecs += m.shuffleReadMetrics.recordsRead
      a.writeBytes += m.shuffleWriteMetrics.bytesWritten
      a.writeRecs += m.shuffleWriteMetrics.recordsWritten
      a.spillMem += m.memoryBytesSpilled
      a.spillDisk += m.diskBytesSpilled
      a.peakExec = math.max(a.peakExec, m.peakExecutionMemory)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) synchronized {
      val key = (i.blockManagerId, i.blockId)
      val size = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
      live += size - blocks.getOrElse(key, 0L)
      if (size == 0L) blocks.remove(key) else blocks(key) = size
      open.valuesIterator.foreach(a => a.peakStorage = math.max(a.peakStorage, live))
    }
  }

  // unpersisting an RDD drops its blocks without a block update
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
    synchronized {
      blocks.keys.filter(_._2.asRDDId.exists(_.rddId == e.rddId)).toList
        .foreach(k => live -= blocks.remove(k).getOrElse(0L))
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      s.jobGroupId.flatMap(open.get).foreach(executionSpans(s.executionId) = _)
    }
    case end: SparkListenerSQLExecutionEnd =>
      synchronized(executionSpans.remove(end.executionId)).foreach { a =>
        // a failed execution may have no physical plan to count
        val census = scala.util.Try(Census.of(MeterBridge.executedPlan(end)))
          .getOrElse(Census.Empty)
        val ex = Reading.Execution(end.executionId,
          MeterBridge.executionName(end).getOrElse(""), census)
        synchronized(a.executions += ex)
      }
    case _ =>
  }
}

private[graft] object Meter {
  private val GroupId = "spark.jobGroup.id"
  private val GroupProps =
    Seq(GroupId, "spark.job.description", "spark.job.interruptOnCancel")
  private var current: Option[Meter] = None

  /** The meter of `spark`'s SparkContext, registered on first use. */
  def on(spark: SparkSession): Meter = synchronized {
    val sc = spark.sparkContext
    current.filter(_.sc eq sc).getOrElse {
      val m = new Meter(sc)
      sc.addSparkListener(m)
      current = Some(m)
      m
    }
  }
}
