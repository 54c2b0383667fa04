package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One recorded span. Times are epoch milliseconds (Spark's listener
  * events and Catalyst's phase tracker only carry milliseconds; op
  * spans are recorded at the same resolution so they nest). */
final case class Span(name: String, startMs: Long, endMs: Long,
                      parent: String, op: String)

/** Spark job / stage / task bookkeeping, free of Spark types so the
  * attribution rules can be tested with synthetic events.
  *
  * A job belongs to the op named in its `perfbench.op` local property
  * (set on the client thread before each op and inherited by threads
  * the op starts). A stage belongs to the first job that listed it in
  * `SparkListenerJobStart.stageIds`, and a task to its stage's job —
  * never to "whatever job was running when it ended", which
  * misattributes as soon as two jobs overlap. */
final class JobLedger {
  import JobLedger._

  private val jobs = mutable.HashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val totals = mutable.HashMap.empty[String, OpTotals]

  private def opOfStage(stageId: Int): Option[String] =
    stageJob.get(stageId).flatMap(jobs.get).map(_.op).filter(_ != null)

  def jobStart(jobId: Int, op: String, timeMs: Long, stageIds: Seq[Int]): Unit =
    synchronized {
      jobs(jobId) = new Job(jobId, op, timeMs, -1L)
      stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = jobId)
      if (op != null) totals.getOrElseUpdate(op, new OpTotals).jobs += 1
    }

  def jobEnd(jobId: Int, timeMs: Long): Unit = synchronized {
    jobs.get(jobId).foreach { j =>
      j.endMs = timeMs
      if (j.op != null)
        totals.getOrElseUpdate(j.op, new OpTotals).jobIntervals += (j.startMs -> timeMs)
    }
  }

  /** A stage that ran (skipped stages never complete and never count). */
  def stageCompleted(stageId: Int): Unit = synchronized {
    opOfStage(stageId).foreach(op => totals.getOrElseUpdate(op, new OpTotals).stages += 1)
  }

  def taskEnd(stageId: Int, runMs: Long, cpuNs: Long, shuffleWriteBytes: Long): Unit =
    synchronized {
      opOfStage(stageId).foreach { op =>
        val t = totals.getOrElseUpdate(op, new OpTotals)
        t.tasks += 1; t.taskRunMs += runMs; t.cpuNs += cpuNs
        t.shuffleWriteBytes += shuffleWriteBytes
      }
    }

  def forOp(op: String): OpTotals = synchronized(totals.getOrElse(op, new OpTotals))

  def jobSpans: Seq[Span] = synchronized {
    jobs.values.toSeq.sortBy(_.id).collect {
      case j if j.op != null && j.endMs >= 0 =>
        Span(s"spark.job.${j.id}", j.startMs, j.endMs, j.op, j.op)
    }
  }
}

object JobLedger {
  final class Job(val id: Int, val op: String, val startMs: Long, var endMs: Long)
  final class OpTotals {
    var jobs = 0; var stages = 0; var tasks = 0
    var taskRunMs = 0L; var cpuNs = 0L; var shuffleWriteBytes = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
}

/** Forwards scheduler events into a [[JobLedger]]. */
final class SparkLayerListener(ledger: JobLedger) extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit =
    ledger.jobStart(e.jobId,
      Option(e.properties).map(_.getProperty(Tracer.OpProperty)).orNull,
      e.time, e.stageIds)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = ledger.jobEnd(e.jobId, e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    ledger.stageCompleted(e.stageInfo.stageId)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null && e.taskInfo != null)
      ledger.taskEnd(e.stageId, e.taskInfo.duration, m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten)
  }
}

/** Catalyst phase spans of every action, from `QueryExecution.tracker`.
  * The callback arrives later on the listener bus, so the action is
  * matched to its op by time, not by the calling thread. */
final class CatalystListener extends QueryExecutionListener {
  private val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val actions = mutable.ArrayBuffer.empty[Long]

  private def record(qe: QueryExecution): Unit = synchronized {
    val ps = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      ps.get(p).foreach(s => phases += ((p, s.startTimeMs, s.endTimeMs)))
    }
    ps.get("analysis").orElse(ps.values.headOption)
      .foreach(s => actions += s.startTimeMs)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  /** (phase, start, end) and action start times inside [startMs, endMs]. */
  def within(startMs: Long, endMs: Long): (Seq[(String, Long, Long)], Int) = synchronized {
    (phases.filter { case (_, s, _) => s >= startMs && s <= endMs }.toSeq,
      actions.count(t => t >= startMs && t <= endMs))
  }
}

/** The traced run's recorder. Listeners are attached only around traced
  * ops and the bus is drained before they detach, so untraced ops in
  * the same run pay nothing; the difference between the two kinds of
  * op is the tracing overhead. */
final class Tracer(spark: SparkSession) {
  val ledger = new JobLedger
  private val sparkListener = new SparkLayerListener(ledger)
  val catalyst = new CatalystListener

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(catalyst)
  }

  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(catalyst)
  }
}

object Tracer {
  val OpProperty = "perfbench.op"
}
