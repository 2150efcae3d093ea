package org.apache.spark.sql.graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** A metered call's value and the Spark work it scheduled: one
  * `spark.job.description` per job started ("" when unset), stages
  * submitted, and shuffle bytes written + read. */
final case class Metered[T](value: T, descriptions: Seq[String], stages: Long,
    shuffleBytes: Long) {
  def jobs: Long = descriptions.size.toLong
}

/** Test helper: run `f` under a listener that counts its jobs, stages
  * and shuffle bytes. The listener bus is drained before the listener
  * is added and again after `f`, so every event of the jobs `f`
  * scheduled is counted and none from before. Work other threads
  * schedule meanwhile is counted too. Lives in the spark package tree
  * because `SparkContext.listenerBus` is `private[spark]`. */
object JobMeter {
  def apply[T](spark: SparkSession)(f: => T): Metered[T] = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[String]
    val stages, shuffle = new AtomicLong
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.add(Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
        ()
      }
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
        stages.incrementAndGet(); ()
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        Option(t.taskMetrics).foreach { m =>
          shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten +
            m.shuffleReadMetrics.totalBytesRead)
        }
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(l)
    try {
      val r = f
      sc.listenerBus.waitUntilEmpty()
      Metered(r, jobs.asScala.toSeq, stages.get, shuffle.get)
    } finally sc.removeSparkListener(l)
  }
}
