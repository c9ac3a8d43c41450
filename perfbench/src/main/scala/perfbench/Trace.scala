package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Local properties the harness sets on its own thread, so every Spark
  * job it causes can be attributed to an operation and a phase. */
object Props {
  val Op = "perfbench.op"
  val Phase = "perfbench.phase"
  /** Set by Spark's micro-batch engine on the jobs of each batch. */
  val StreamBatch = "streaming.sql.batchId"
}

/** One timed interval. Times are epoch milliseconds (fractional) so that
  * harness spans and Spark's own event times share one clock. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    start: Double, end: Double)

/** Spans kept in memory and written out when the run ends. */
final class Spans {
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  val all = ArrayBuffer.empty[Span]

  /** Epoch milliseconds of a `System.nanoTime` reading. */
  def ms(ns: Long): Double = t0Ms + (ns - t0Ns) / 1e6

  def add(parent: Int, op: Int, name: String, startNs: Long, endNs: Long): Int =
    addMs(parent, op, name, ms(startNs), ms(endNs))

  def addMs(parent: Int, op: Int, name: String, start: Double, end: Double): Int = {
    val id = all.size + 1
    all += Span(id, parent, op, name, start, end)
    id
  }
}

/** Per-stage task totals. */
final class StageTotals {
  var tasks = 0L
  var runMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
}

final case class JobRec(id: Int, op: Option[String], phase: Option[String],
    batch: Option[Long], start: Long, stages: Seq[Int]) {
  @volatile var end: Long = start
}

/** Counts from Spark's listener bus: jobs (with the properties that
  * attribute them), executed stages and task metrics. */
final class SparkEvents extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  /** Stages that actually ran (skipped stages are never submitted). */
  val stageJob = new ConcurrentHashMap[Int, Int]()
  val stages = new ConcurrentHashMap[Int, StageTotals]()

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val r = JobRec(e.jobId, prop(e.properties, Props.Op),
      prop(e.properties, Props.Phase),
      prop(e.properties, Props.StreamBatch).map(_.toLong), e.time, e.stageIds)
    jobs.put(e.jobId, r)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stages.putIfAbsent(e.stageInfo.stageId, new StageTotals)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = stages.computeIfAbsent(e.stageId, _ => new StageTotals)
    val m = e.taskMetrics
    t.synchronized {
      t.tasks += 1
      if (m != null) {
        t.runMs += m.executorRunTime
        t.inputBytes += m.inputMetrics.bytesRead
        t.inputRecords += m.inputMetrics.recordsRead
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.diskBytesSpilled
      }
    }
  }

  /** The stages that ran as part of `job` (a stage shared with an
    * earlier job ran there and is skipped here). */
  def executedStagesOf(job: JobRec): Seq[StageTotals] =
    job.stages.filter(s => stageJob.get(s) == job.id)
      .flatMap(s => Option(stages.get(s)))
}

/** Catalyst phases of every SQL execution (eager actions inside a query's
  * build as well as the final write). */
final class PlanEvents extends QueryExecutionListener {
  /** (start ms, end ms) of each optimization and planning phase. */
  val phases = new ConcurrentLinkedQueue[(Double, Double)]()

  private def record(qe: QueryExecution): Unit =
    Seq("optimization", "planning").foreach { p =>
      qe.tracker.phases.get(p).foreach(s =>
        phases.add((s.startTimeMs.toDouble, s.endTimeMs.toDouble)))
    }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
}

/** Duration phases of each streaming micro-batch that read rows. */
final class StreamEvents extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[Map[String, Long]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0)
      batches.add(p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }
}

/** Length of the union of intervals, clipped to [lo, hi]. */
object Intervals {
  def covered(xs: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = xs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
