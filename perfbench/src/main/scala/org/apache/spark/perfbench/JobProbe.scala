package org.apache.spark.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Counts Spark work from outside the program. A job is credited to the
  * span named by the `perfbench.span` local property of the thread that
  * ran it; every task's GC time is also kept with its finish time, so a
  * timed window can sum the GC its tasks reported. */
final class JobProbe extends SparkListener {
  final class Counts {
    val jobs = new AtomicLong
    val tasks = new AtomicLong
    val recordsRead = new AtomicLong
  }

  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val perSpan = new ConcurrentHashMap[String, Counts]()
  private val taskGc = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  private def counts(span: String): Counts = perSpan.computeIfAbsent(span, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(JobProbe.SpanKey))).foreach { span =>
      counts(span).jobs.incrementAndGet()
      e.stageIds.foreach(stageSpan.put(_, span))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      taskGc.add(e.taskInfo.finishTime -> m.jvmGCTime)
      Option(stageSpan.get(e.stageId)).foreach { span =>
        val c = counts(span)
        c.tasks.incrementAndGet()
        c.recordsRead.addAndGet(m.inputMetrics.recordsRead)
      }
    }
  }

  /** (jobs, tasks, records read) credited to `span`. */
  def of(span: String): (Long, Long, Long) =
    Option(perSpan.get(span)).fold((0L, 0L, 0L))(c =>
      (c.jobs.get, c.tasks.get, c.recordsRead.get))

  /** Summed task GC time of tasks that finished in [fromMs, toMs]. */
  def taskGcMs(fromMs: Long, toMs: Long): Long = {
    var sum = 0L
    taskGc.forEach { case (t, gc) => if (t >= fromMs && t <= toMs) sum += gc }
    sum
  }
}

object JobProbe {
  val SpanKey = "perfbench.span"

  /** Block until the listener bus has delivered every queued event. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
