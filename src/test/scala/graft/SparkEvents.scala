package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession

/** The jobs and stages one block ran, as the listener bus reported them. */
final class SparkEvents private () extends SparkListener {
  private val jobQ = new ConcurrentLinkedQueue[(Int, String, Seq[Int])]()
  private val stageQ = new ConcurrentLinkedQueue[StageInfo]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobQ.add((e.jobId, Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""),
      e.stageIds))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageQ.add(e.stageInfo)

  private def marker = jobQ.asScala.filter(_._2 == SparkEvents.Marker)

  /** (job id, job description), by job id. */
  def jobs: Seq[(Int, String)] =
    jobQ.asScala.toSeq.filter(_._2 != SparkEvents.Marker)
      .map(j => j._1 -> j._2).sortBy(_._1)

  def stages: Seq[StageInfo] = {
    val markerStages = marker.flatMap(_._3).toSet
    stageQ.asScala.toSeq.filterNot(s => markerStages(s.stageId))
  }
}

object SparkEvents {
  private[graft] val Marker = "graft-test: listener drain marker"

  /** Run `f` and return its value with every job and stage it ran. The
    * events are complete: a marker job runs after `f`, and the listener
    * bus delivers events in the order they were posted. */
  def record[T](spark: SparkSession)(f: => T): (T, SparkEvents) = {
    val sc = spark.sparkContext
    val ev = new SparkEvents
    sc.addSparkListener(ev)
    try {
      val v = f
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(Marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(prev)
      val deadline = System.nanoTime() + 30e9.toLong
      while (ev.marker.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
      (v, ev)
    } finally sc.removeSparkListener(ev)
  }
}
