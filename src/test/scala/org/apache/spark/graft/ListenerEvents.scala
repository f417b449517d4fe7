package org.apache.spark.graft

import org.apache.spark.Success
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListenerStageCompleted, SparkListenerTaskEnd, StageInfo}

/** Synthetic scheduler events for listener specs. Task metrics and stage
  * info are built through `private[spark]` setters, hence the package. */
object ListenerEvents {

  def taskEnd(stageId: Int, attempt: Int, recordsRead: Long,
      shuffleRecordsWritten: Long = 0L): SparkListenerTaskEnd = {
    val m = TaskMetrics.empty
    m.inputMetrics.setRecordsRead(recordsRead)
    m.shuffleWriteMetrics.incRecordsWritten(shuffleRecordsWritten)
    SparkListenerTaskEnd(stageId, attempt, "ResultTask", Success, null, null, m)
  }

  def stageCompleted(stageId: Int, attempt: Int, wallMillis: Long): SparkListenerStageCompleted = {
    val info = new StageInfo(stageId, attempt, s"stage $stageId", 1, Seq.empty,
      Seq.empty, "", resourceProfileId = 0)
    info.submissionTime = Some(1000L)
    info.completionTime = Some(1000L + wallMillis)
    SparkListenerStageCompleted(info)
  }
}
