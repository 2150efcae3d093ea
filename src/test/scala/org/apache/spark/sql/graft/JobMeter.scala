package org.apache.spark.sql.graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** A metered call's value and the Spark work it scheduled: one
  * `spark.job.description` per job started ("" when unset), stages
  * submitted, shuffle bytes written + read, and (outside the pattern, so
  * four-field matches hold) the output dir of every parquet/file write,
  * the job group of every job and the physical plan of every SQL
  * execution (each adaptive re-plan too). */
final case class Metered[T](value: T, descriptions: Seq[String], stages: Long,
    shuffleBytes: Long)(val writes: Seq[String] = Nil, val groups: Seq[String] = Nil,
    val plans: Seq[SparkPlanInfo] = Nil) {
  def jobs: Long = descriptions.size.toLong
}

/** Test helper: run `f` under a listener that counts its jobs, stages
  * and shuffle bytes and records its file writes, job groups and plans. The listener bus is drained before the listener
  * is added and again after `f`, so every event of the jobs `f`
  * scheduled is counted and none from before. Work other threads
  * schedule meanwhile is counted too. Lives in the spark package tree
  * because `SparkContext.listenerBus` is `private[spark]`. */
object JobMeter {
  def apply[T](spark: SparkSession)(f: => T): Metered[T] = {
    val sc = spark.sparkContext
    val jobs, groups = new ConcurrentLinkedQueue[String]
    val plans = new ConcurrentLinkedQueue[SparkPlanInfo]
    val stages, shuffle = new AtomicLong
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(j.properties).flatMap(p => Option(p.getProperty(k)))
        jobs.add(prop("spark.job.description").getOrElse(""))
        groups.add(prop("spark.jobGroup.id").getOrElse(""))
        ()
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.sparkPlanInfo); ()
        case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.add(u.sparkPlanInfo); ()
        case _ => ()
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
    val writes = new ConcurrentLinkedQueue[String]
    val w = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.logical.foreach {
          case c: InsertIntoHadoopFsRelationCommand => writes.add(c.outputPath.toString); ()
          case _ => ()
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(l)
    spark.listenerManager.register(w)
    try {
      val r = f
      sc.listenerBus.waitUntilEmpty()
      Metered(r, jobs.asScala.toSeq, stages.get, shuffle.get)(writes.asScala.toSeq,
        groups.asScala.toSeq, plans.asScala.toSeq)
    } finally {
      sc.removeSparkListener(l)
      spark.listenerManager.unregister(w)
    }
  }
}
