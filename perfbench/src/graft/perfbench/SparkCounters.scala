package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spark engine counters attributed to the benchmark call that started
  * each job (the [[Trace.CallProp]] local property). Reads drain the
  * listener bus first, so counts repeat exactly.
  */
final class SparkCounters(sc: SparkContext) extends SparkListener {
  final class Acc {
    var jobs = 0L; var tasks = 0L; var shuffleBytes = 0L; var spillBytes = 0L
    var busyMs = 0L; var gcMs = 0L
  }
  private val stageCall = new ConcurrentHashMap[Int, String]()
  private val accs = new ConcurrentHashMap[String, Acc]()
  private def acc(call: String): Acc = accs.computeIfAbsent(call, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val call = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.CallProp)))
      .getOrElse("other")
    e.stageIds.foreach(stageCall.put(_, call))
    val a = acc(call)
    a.synchronized { a.jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      val a = acc(Option(stageCall.get(e.stageId)).getOrElse("other"))
      a.synchronized {
        a.tasks += 1
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.busyMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
      }
    }

  /** Per call: jobs, tasks, shuffle_mb, spill_mb, task_busy_s, gc_s. */
  def snapshot(): Map[String, Map[String, Double]] = {
    BusDrain(sc)
    accs.asScala.map { case (call, a) =>
      call -> a.synchronized(Map(
        "jobs" -> a.jobs.toDouble, "tasks" -> a.tasks.toDouble,
        "shuffle_mb" -> a.shuffleBytes / 1e6, "spill_mb" -> a.spillBytes / 1e6,
        "task_busy_s" -> a.busyMs / 1e3, "gc_s" -> a.gcMs / 1e3))
    }.toMap
  }
}
