package org.apache.spark.graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a body launches, from its own thread and any
  * thread it starts (local properties are inherited by child threads),
  * and the distinct SQL executions (`spark.sql.execution.id`) those
  * jobs ran under. Lives under `org.apache.spark` to drain the listener
  * bus, which Spark keeps package-private: without the drain, job-start
  * events still queued when the body returns would go uncounted.
  */
object JobCount {
  private val Tag = "graft.test.jobCount"
  private val ExecutionId = "spark.sql.execution.id"

  /** Jobs launched and distinct SQL executions they ran under. */
  final case class Tally(jobs: Int, executions: Int)

  def apply(sc: SparkContext)(body: => Unit): Int = tally(sc)(body).jobs

  def tally(sc: SparkContext)(body: => Unit): Tally = {
    val id = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger
    val executions = ConcurrentHashMap.newKeySet[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Tag) == id) {
          n.incrementAndGet()
          Option(e.properties.getProperty(ExecutionId)).foreach(executions.add)
        }
    }
    sc.addSparkListener(l)
    sc.setLocalProperty(Tag, id)
    try {
      body
      ListenerBus.drain(sc)
      Tally(n.get, executions.size)
    } finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(l)
    }
  }
}

/** Waits until the listener bus has delivered every event posted so
  * far, so state fed by listeners (the status store behind
  * `SparkContext.statusTracker`, a [[JobCount]] tally) is current.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
