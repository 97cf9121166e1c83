package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Counters of one operation, filled from Spark's own events. Times
  * are milliseconds, sizes bytes. */
final class OpCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWaitMs = 0L
  var spillBytes = 0L
  var outputRecords = 0L
  var outputBytes = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  /** (job id, submit epoch ms, end epoch ms). */
  val jobSpans = mutable.ArrayBuffer.empty[(Int, Long, Long)]
}

/** The traced run's listeners: a SparkListener for jobs, stages and
  * tasks, a QueryExecutionListener for the Catalyst phases of each
  * executed plan, and a StreamingQueryListener for trigger progress.
  *
  * Attribution is by id, not by time: the client thread tags its jobs
  * with the local property [[OpKey]] (inherited by the threads an
  * operation starts, including a stream's execution thread); jobs of a
  * micro-batch carry Spark's own batch-id property as well. Stages and
  * tasks follow their job; a plan's phases follow the SQL execution id
  * its jobs carry. Events arrive on the listener bus thread, so every
  * map is guarded by this object's lock, and [[snapshot]] is read only
  * after [[org.apache.spark.perfbench.Bus.drain]]. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val ops = mutable.Map.empty[String, OpCounters]
  private val jobOp = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageOp = mutable.Map.empty[Int, String]
  private val execOp = mutable.Map.empty[Long, String]
  private val execPhases = mutable.Map.empty[Long, Map[String, Long]]
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  private def counters(op: String): OpCounters = ops.getOrElseUpdate(op, new OpCounters)

  private def opOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(OpKey))).map { op =>
      Option(props.getProperty(BatchIdKey)).fold(op)(b => s"$op/b$b")
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    opOf(e.properties).foreach { op =>
      jobOp(e.jobId) = op
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageOp(_) = op)
      counters(op).jobs += 1
      Option(e.properties.getProperty("spark.sql.execution.id"))
        .foreach(id => execOp(id.toLong) = op)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.get(e.jobId).foreach { op =>
      counters(op).jobSpans += ((e.jobId, jobStart(e.jobId), e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageOp.get(e.stageInfo.stageId).foreach(counters(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (op <- stageOp.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = counters(op)
      c.tasks += 1
      c.taskRunMs += m.executorRunTime
      c.taskCpuMs += m.executorCpuTime / 1000000L
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.outputRecords += m.outputMetrics.recordsWritten
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      execPhases(qe.id) = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
    }

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Every operation's counters, with each plan's Catalyst phases
    * added to the operation whose jobs ran it. Plans that ran no job
    * (a local relation, say) have no owner and are left out. */
  def snapshot(): Map[String, OpCounters] = synchronized {
    for ((exec, phases) <- execPhases; op <- execOp.get(exec)) {
      val c = counters(op)
      c.analysisMs += phases.getOrElse("analysis", 0L)
      c.optimizationMs += phases.getOrElse("optimization", 0L)
      c.planningMs += phases.getOrElse("planning", 0L)
    }
    execPhases.clear()
    ops.toMap
  }
}

object Tracer {
  /** Local property naming the operation a job belongs to. */
  val OpKey = "perfbench.op"
  /** Spark's own local property on the jobs of a micro-batch. */
  val BatchIdKey = "streaming.sql.batchId"

  def install(spark: SparkSession): Tracer = {
    val t = new Tracer
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    spark.streams.addListener(t.streaming)
    t
  }
}
