package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** What a block of code ran: its result, the SQL execution id of every job
  * it started, in job order (None for a job outside any SQL execution, e.g.
  * a parquet schema read), and the description of every SQL execution it
  * started. */
final case class JobLog[T](result: T, jobs: Seq[Option[String]], executions: Seq[String])

object JobLog {
  /** Runs `body` with a listener attached, after and then before draining
    * the listener bus, so the log holds exactly `body`'s events. */
  def of[T](spark: SparkSession)(body: => T): JobLog[T] = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Option[String])]
    val execs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.jobId -> Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id"))))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => execs.add(s.executionId -> s.description)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusAccess.drain(sc)
    sc.addSparkListener(l)
    val out = try {
      val r = body
      org.apache.spark.ListenerBusAccess.drain(sc)
      r
    } finally sc.removeSparkListener(l)
    JobLog(out,
      jobs.toArray(Array.empty[(Int, Option[String])]).sortBy(_._1).map(_._2).toSeq,
      execs.toArray(Array.empty[(Long, String)]).sortBy(_._1).map(_._2).toSeq)
  }
}
