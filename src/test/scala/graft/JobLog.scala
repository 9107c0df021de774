package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** The Spark jobs a block of code starts, for job-budget specs. */
object JobLog {

  /** one started job: its declared task count, whether it ran inside
    * a SQL execution (an action on a DataFrame), its call site (e.g.
    * `localCheckpoint at Ckpt.scala:48`) and its job group
    * (`spark.jobGroup.id`, set by `SparkContext.setJobGroup` on the
    * submitting thread). A job outside a SQL execution is driver-side
    * planning work, such as parquet schema inference. */
  final case class Job(id: Int, tasks: Int, inSqlExecution: Boolean,
      callSite: String, group: Option[String])

  /** runs `body` and returns its result with every job started while
    * it ran, read after the listener bus has delivered its events. */
  def during[T](spark: SparkSession)(body: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    val seen = new ConcurrentLinkedQueue[Job]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val props = Option(j.properties)
        seen.add(Job(j.jobId, j.stageInfos.map(_.numTasks).sum,
          props
            .exists(_.getProperty(SQLExecution.EXECUTION_ID_KEY) != null),
          j.stageInfos.headOption.map(_.name).getOrElse(""),
          props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))))
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBusDrain(sc)
      (out, seen.asScala.toSeq.sortBy(_.id))
    } finally sc.removeSparkListener(listener)
  }
}
