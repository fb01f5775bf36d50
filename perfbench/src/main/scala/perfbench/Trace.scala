package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId
import scala.collection.mutable

object Trace {
  final case class Job(id: Int, group: String, start: Long, stages: Seq[Int]) {
    var end: Long = -1L
  }
  final case class Stage(id: Int, name: String, submit: Long, end: Long,
                         tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
                         inBytes: Long, inRows: Long, shReadBytes: Long,
                         shWriteBytes: Long, spillBytes: Long)
}

/** Benchmark-owned listener for the traced run: keeps every Spark job and
  * stage in memory, keyed by the job group the harness sets per op. */
final class Trace extends SparkListener {
  import Trace._

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]
  /** First job that listed each stage: its work is charged to that job. */
  val stageJob = mutable.Map.empty[Int, Int]
  var rddBlocks = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, group, e.time, e.stageIds)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val submit = i.submissionTime.getOrElse(0L)
    val end = i.completionTime.getOrElse(submit)
    stages(i.stageId) = if (m == null)
      Stage(i.stageId, i.name, submit, end, i.numTasks, 0, 0, 0, 0, 0, 0, 0, 0)
    else Stage(i.stageId, i.name, submit, end, i.numTasks,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isInstanceOf[RDDBlockId] && b.storageLevel.isValid)
      synchronized { rddBlocks += 1 }
  }

  /** Wait (bounded) until every started job has reported its end: the
    * listener bus is asynchronous. */
  def settle(timeoutMs: Long = 10000L): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    while (synchronized(jobs.values.exists(_.end < 0)) &&
      System.currentTimeMillis() < until) Thread.sleep(20)
    Thread.sleep(200) // stage-completed events trail job ends
  }
}
