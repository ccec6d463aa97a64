package org.apache.spark

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The Spark jobs a block submits, seen by a listener. Listener delivery
  * is asynchronous, so the bus is drained before the listener attaches
  * and again before it detaches (`listenerBus.waitUntilEmpty`, which is
  * not public API — hence this package). Specs run one at a time in the
  * test JVM, so every job in the window is the block's.
  */
object JobCounter {
  def apply[A](sc: SparkContext)(body: => A): (A, Seq[SparkListenerJobStart]) = {
    sc.listenerBus.waitUntilEmpty()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e)
    }
    sc.addSparkListener(listener)
    try {
      val a = body
      sc.listenerBus.waitUntilEmpty()
      (a, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
