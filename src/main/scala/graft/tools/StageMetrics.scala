package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Cumulative completed-stage counters for the scale smokes: shuffle
  * bytes written/read, shuffle records written, stage count, executor
  * run time and JVM GC time. A smoke registers one instance with
  * `addSparkListener`, reads a counter before and after a phase, and
  * prints the difference. */
final class StageMetrics extends SparkListener {
  val shufWrite, shufRead, shufRecs, nStages, taskMs, gcMs = new AtomicLong

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val m = s.stageInfo.taskMetrics
    nStages.incrementAndGet()
    if (m != null) {
      shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shufRecs.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      taskMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
    }
  }
}
