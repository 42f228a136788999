package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the jobs `body` starts and the distinct shuffles they run. Lives
  * in the spark package for `listenerBus` (to wait until every event of
  * `body` is delivered) and `StageInfo.shuffleDepId`. */
object JobTally {
  final case class Tally(jobs: Int, shuffles: Int)

  def apply(sc: SparkContext)(body: => Unit): Tally = {
    val started = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.add(e)
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val jobs = started.asScala.toSeq
    Tally(jobs.length, jobs.flatMap(_.stageInfos.flatMap(_.shuffleDepId)).distinct.length)
  }
}
