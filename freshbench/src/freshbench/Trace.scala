package freshbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Durations of the benchmark's own calls into each layer, by name; only
  * the traced run's separately timed layer passes record any. */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[(String, Double)]

  def span[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally spans += ((name, (System.nanoTime() - t0) / 1e6))
  }

  /** Durations in ms of every span with this name. */
  def ms(name: String): Seq[Double] = spans.collect { case (n, m) if n == name => m }.toSeq
}

/** Cumulative counters read at one instant. */
final case class Snap(jobs: Long, stages: Long, tasks: Long, taskRunMs: Long,
    taskCpuNs: Long, schedDelayMs: Long, shuffleWriteBytes: Long, spillBytes: Long,
    planMs: Long, compiles: Long, compileNs: Long, gcMs: Long, jobIndex: Int)

/** Spark-side counters: a SparkListener (jobs, stages, tasks and their
  * metrics, job call sites), a QueryExecutionListener (analysis,
  * optimization and planning time of every executed frame), Spark's
  * codegen counters and the JVM's collector times. Registered only in the
  * traced run. */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
  /** (start ms, end ms, short call site) of every finished job, in end order. */
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long, String)]
  private val jobs, stages, tasks, runMs, cpuNs, schedMs, shuffleBytes, spill, planMs =
    new LongAdder

  /** Short call site of each SQL execution's root action. */
  private val execSite = new java.util.concurrent.ConcurrentHashMap[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      val root = s.rootExecutionId.map(r => execSite.get(r)).filter(_ != null)
      execSite.put(s.executionId, root.getOrElse(s.description))
    case _ =>
  }
  /** A job's call site: that of the SQL action it runs for (AQE submits
    * stage jobs from its own threads, which carry no useful call site of
    * their own), else its result stage's name. */
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execSite.get(id.toLong)))
    jobStart.put(e.jobId, (e.time, exec.getOrElse(
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStart.remove(e.jobId)
    if (s != null) jobSpans.synchronized { jobSpans += ((s._1, e.time, s._2)) }
    jobs.increment()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      runMs.add(m.executorRunTime)
      cpuNs.add(m.executorCpuTime)
      shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.diskBytesSpilled)
      val i = e.taskInfo
      // the Spark UI's scheduler delay
      schedMs.add(math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planMs.add(qe.tracker.phases.values.map(_.durationMs).sum)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  /** Counters after every event posted so far has been delivered. */
  def snap(): Snap = {
    BenchAccess.drainListeners(spark.sparkContext)
    Snap(jobs.sum, stages.sum, tasks.sum, runMs.sum, cpuNs.sum, schedMs.sum,
      shuffleBytes.sum, spill.sum, planMs.sum,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime,
      Probe.gcMs(), jobSpans.synchronized(jobSpans.length))
  }

  /** Wall ms covered by the jobs that finished between two snaps and whose
    * short call site satisfies `site` (overlapping jobs counted once). */
  def jobWallMs(a: Snap, b: Snap, site: String => Boolean): Long = {
    val iv = jobSpans.synchronized(jobSpans.slice(a.jobIndex, b.jobIndex).toSeq)
      .filter(j => site(j._3)).map(j => (j._1, j._2)).sortBy(_._1)
    var total = 0L
    var end = Long.MinValue
    for ((s, e) <- iv) {
      if (e > end) total += e - math.max(s, end)
      end = math.max(end, e)
    }
    total
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Probe {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}

/** Heap occupancy after collections, from the collectors' notifications
  * (which arrive on the JVM's notification thread, shortly after each
  * collection). */
object Heap {
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private def collections(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionCount)).sum
  private val seen = new AtomicLong
  private val peak = new AtomicLong
  private var base = 0L

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          .getGcInfo.getMemoryUsageAfterGc.asScala
        peak.accumulateAndGet(after.collect { case (p, u) if heapPools(p) => u.getUsed }.sum, math.max)
        seen.incrementAndGet()
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
    _.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))
  /** Collections before the listener was registered (touch `Heap` early, so
    * that none runs in between). */
  private val missed = collections()

  /** Collects fully, waits for every notification so far, then starts a
    * new peak from here. */
  def reset(): Unit = {
    System.gc()
    awaitNotifications()
    peak.set(0L)
    base = seen.get
  }

  /** The highest heap occupancy after a collection since `reset`, in MB. */
  def peakMb(): Double = {
    awaitNotifications()
    peak.get / 1048576.0
  }

  /** Collections since `reset`. */
  def count: Long = seen.get - base

  private def awaitNotifications(): Unit = {
    val deadline = System.nanoTime() + 2000000000L
    while (missed + seen.get < collections() && System.nanoTime() < deadline) Thread.sleep(5)
  }
}

/** Walks of an executed physical plan, into AQE stages and subqueries. */
object Plans {
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => p.children
    }
    p +: (inner ++ p.subqueries).flatMap(nodes)
  }
  /** Exchange nodes, reused ones included. */
  def exchanges(p: SparkPlan): Int = nodes(p).count {
    case _: Exchange | _: ReusedExchangeExec => true
    case _ => false
  }
  def joins(p: SparkPlan): Int = nodes(p).count(_.isInstanceOf[BaseJoinExec])
  /** Files the plan's file scans opened, from their `numFiles` metric. */
  def filesRead(p: SparkPlan): Long = nodes(p).collect {
    case s: FileSourceScanLike => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
  }.sum
}
