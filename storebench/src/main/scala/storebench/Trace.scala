package storebench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spark-side counters of the jobs that ran under one job group. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var inputBytes, outputBytes, shuffleWrite, shuffleRead, spill = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
  }
}

/** A timed interval; `group` is the Spark job group of calls made inside
  * it (-1: none). Job and stage spans come from the listener.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)

/** Collects per-job-group counters and job/stage intervals. Every callback
  * runs on the single listener-bus thread; readers call
  * [[org.apache.spark.ListenerDrain]] first and then read under the lock.
  */
final class LayerListener extends SparkListener {
  private val groupOfJob = mutable.Map.empty[Int, String]
  private val groupOfStage = mutable.Map.empty[Int, String]
  private val jobOfStage = mutable.Map.empty[Int, Int]
  private val startOfJob = mutable.Map.empty[Int, Long]
  val counters = mutable.Map.empty[String, Counters]
  /** (group, jobId, stageId or -1, startMs, endMs) */
  val intervals = mutable.ArrayBuffer.empty[(String, Int, Int, Long, Long)]

  private def of(group: String) = counters.getOrElseUpdate(group, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    groupOfJob(e.jobId) = g
    startOfJob(e.jobId) = e.time
    e.stageIds.foreach { s => groupOfStage(s) = g; jobOfStage(s) = e.jobId }
    of(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val g = groupOfJob.getOrElse(e.jobId, "")
    intervals += ((g, e.jobId, -1, startOfJob.getOrElse(e.jobId, e.time), e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val g = groupOfStage.getOrElse(i.stageId, "")
    val c = of(g)
    c.stages += 1
    c.tasks += i.numTasks
    for (s <- i.submissionTime; t <- i.completionTime)
      intervals += ((g, jobOfStage.getOrElse(i.stageId, -1), i.stageId, s, t))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = of(groupOfStage.getOrElse(e.stageId, ""))
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}
