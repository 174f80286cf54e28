package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerJobStart}
import scala.jdk.CollectionConverters._

/** Test access to the listener bus, which Spark keeps package-private. */
object Bus {

  /** Block until every event posted so far has reached every listener,
    * so a listener's counts are complete without sleeping. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `body`'s result and the Spark jobs it started, one entry per job:
    * its description, else its first stage's name. The listener sees
    * only `body`'s events — the bus is drained before it is added and
    * before it is removed. */
  def jobsOf[T](sc: SparkContext)(body: => T): (T, Seq[String]) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(js.stageInfos.headOption.map(_.name))
          .getOrElse("?"))
    }
    drain(sc)
    sc.addSparkListener(listener)
    try {
      val result = body
      drain(sc)
      (result, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** `body`'s result and the RDD blocks (cached partitions) stored while
    * it ran, by block name. */
  def rddBlocksOf[T](sc: SparkContext)(body: => T): (T, Seq[String]) = {
    val blocks = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
        val info = e.blockUpdatedInfo
        if (info.blockId.isRDD && info.storageLevel.isValid) blocks.add(info.blockId.name)
      }
    }
    drain(sc)
    sc.addSparkListener(listener)
    try {
      val result = body
      drain(sc)
      (result, blocks.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
