package org.apache.spark.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark scheduler and task counters, attributed to the benchmark span
  * that submitted each job. The span's tag travels as a local property
  * (`TagKey`) on the submitting thread, so a job started inside a
  * query's "construct" span (a memo build) is charged there and not to
  * the query's execution.
  *
  * Lives in an `org.apache.spark` package for one reason: draining the
  * listener bus (`LiveListenerBus.waitUntilEmpty`) is `private[spark]`,
  * and it is the only way to read complete counters without sleeping. */
final class Counters extends SparkListener {
  import Counters.Acc

  private val accs = mutable.Map.empty[String, Acc]
  private val stageTag = mutable.Map.empty[Int, String]

  private def acc(tag: String): Acc = accs.getOrElseUpdate(tag, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Counters.TagKey)))
      .getOrElse("")
    acc(tag).jobs += 1
    e.stageIds.foreach(id => stageTag(id) = tag)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val a = acc(stageTag.getOrElse(e.stageInfo.stageId, ""))
    a.stages += 1
    if (e.stageInfo.numTasks == 1) a.singleTaskStages += 1
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    val a = acc(stageTag.getOrElse(e.stageId, ""))
    a.firstLaunchMs = math.min(a.firstLaunchMs, e.taskInfo.launchTime)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageTag.getOrElse(e.stageId, ""))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.inBytes += m.inputMetrics.bytesRead
      a.inRecords += m.inputMetrics.recordsRead
      a.outBytes += m.outputMetrics.bytesWritten
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Counters per span tag since the last call; empties the table. */
  def take(): Map[String, Acc] = synchronized {
    val out = accs.toMap
    accs.clear()
    out
  }
}

object Counters {
  val TagKey = "perfbench.span"

  final class Acc {
    var jobs, stages, singleTaskStages, tasks = 0L
    var firstLaunchMs = Long.MaxValue
    var runMs, cpuNs, gcMs = 0L
    var inBytes, inRecords, outBytes = 0L
    var shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L

    def +=(o: Acc): Unit = {
      jobs += o.jobs; stages += o.stages; singleTaskStages += o.singleTaskStages
      tasks += o.tasks; firstLaunchMs = math.min(firstLaunchMs, o.firstLaunchMs)
      runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
      inBytes += o.inBytes; inRecords += o.inRecords; outBytes += o.outBytes
      shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
      spillBytes += o.spillBytes
    }
  }

  def install(sc: SparkContext): Counters = {
    val c = new Counters
    sc.addSparkListener(c)
    c
  }

  /** Blocks until every posted listener event (scheduler and streaming
    * progress alike) has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
