package org.apache.spark.graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs started while a block runs. Listener events are
  * delivered asynchronously, so the bus is drained before the listener is
  * added (no earlier job leaks in) and before the count is read (no job of
  * the block is missed). */
object JobCounter {
  def count[T](sc: SparkContext)(body: => T): (T, Int) = {
    val (out, sites) = callSites(sc)(body)
    (out, sites.size)
  }

  /** The call site of every job the block started, in start order: the
    * name of the job's last stage, e.g. `parquet at CrossSql.scala:108`. */
  def callSites[T](sc: SparkContext)(body: => T): (T, Seq[String]) = {
    sc.listenerBus.waitUntilEmpty()
    val sites = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        sites.add(e.stageInfos.maxBy(_.stageId).name)
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, sites.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
