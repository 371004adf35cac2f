package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted,
  SparkListenerTaskEnd}
import scala.collection.mutable

/** Task metrics of a session, summed per stage: the one listener behind
  * [[Bench]]'s per-query `gc_ms` / `spill_mb` and [[Profile]]'s stage
  * table. Spark delivers the events on its listener bus thread, after the
  * action that caused them has returned, so a reader lets the bus drain
  * (a short sleep) before [[snapshot]]. */
final class StageMetrics extends SparkListener {
  import StageMetrics.Stage

  private val stages = mutable.LinkedHashMap.empty[Int, Stage]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      val s = stages.getOrElseUpdate(e.stageId, Stage())
      s.taskMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.inputB += m.inputMetrics.bytesRead
      s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      s.tasks += 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      val s = stages.getOrElseUpdate(info.stageId, Stage())
      s.name = info.name.takeWhile(_ != '\n').take(80)
      s.wallMs = (for (t0 <- info.submissionTime; t1 <- info.completionTime)
        yield t1 - t0).getOrElse(-1L)
    }

  /** Copies of the stages seen since the last [[clear]], by stage id. */
  def snapshot(): Seq[(Int, Stage)] =
    synchronized(stages.toSeq.map { case (id, s) => id -> s.copy() })

  def clear(): Unit = synchronized(stages.clear())
}

object StageMetrics {

  /** One stage's task sums; `wallMs` is -1 until the stage completes. */
  final case class Stage(var name: String = "", var wallMs: Long = -1L,
      var taskMs: Long = 0L, var gcMs: Long = 0L, var inputB: Long = 0L,
      var shuffleReadB: Long = 0L, var shuffleWriteB: Long = 0L,
      var spillB: Long = 0L, var tasks: Int = 0)
}
