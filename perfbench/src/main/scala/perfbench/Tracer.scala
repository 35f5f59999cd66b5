package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side observer of the traced run: records jobs, stages (with their
  * tasks' metrics summed), planning phases and streaming progress in
  * memory, tagged with the job group the harness gave each query
  * execution. Nothing is attributed here; `report.py` joins the records
  * to the harness's own spans after the run.
  *
  * Only the traced run registers it; the untraced run pays no listener
  * cost. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private final class StageAcc(val id: Int, val job: Int, val group: String) {
    var submitted = 0L; var tasks = 0L
    var waitMs = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var scanBytes = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
    var fetchWaitMs = 0L; var spillBytes = 0L; var writeBytes = 0L; var writeRecords = 0L
  }

  private val records = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stages = mutable.Map.empty[Int, StageAcc]
  private val jobStart = mutable.Map.empty[Int, (Long, String)]

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    jobStart(e.jobId) = (e.time, g)
    e.stageIds.foreach(s => if (!stages.contains(s)) stages(s) = new StageAcc(s, e.jobId, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (start, g) =>
      records.add(Map("t" -> "job", "id" -> e.jobId, "g" -> g, "s" -> start, "e" -> e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach(_.submitted = e.stageInfo.submissionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { a =>
      a.tasks += 1
      a.waitMs += math.max(0L, e.taskInfo.launchTime - a.submitted)
      Option(e.taskMetrics).foreach { m =>
        a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
        a.scanBytes += m.inputMetrics.bytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spillBytes += m.diskBytesSpilled
        a.writeBytes += m.outputMetrics.bytesWritten
        a.writeRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.remove(e.stageInfo.stageId).foreach { a =>
      records.add(Map("t" -> "stage", "id" -> a.id, "job" -> a.job, "g" -> a.group,
        "s" -> a.submitted, "e" -> e.stageInfo.completionTime.getOrElse(a.submitted),
        "tasks" -> a.tasks, "wait_ms" -> a.waitMs, "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs,
        "gc_ms" -> a.gcMs, "scan_bytes" -> a.scanBytes, "shuffle_write" -> a.shuffleWrite,
        "shuffle_read" -> a.shuffleRead, "fetch_wait_ms" -> a.fetchWaitMs,
        "spill_bytes" -> a.spillBytes, "write_bytes" -> a.writeBytes,
        "write_records" -> a.writeRecords))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      records.add(Map("t" -> "exec", "exec" -> s.executionId, "g" -> s.jobGroupId.getOrElse("")))
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.tracker.phases.foreach { case (phase, p) =>
      records.add(Map("t" -> "plan", "exec" -> qe.id, "phase" -> phase,
        "s" -> p.startTimeMs, "e" -> p.endTimeMs))
    }

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      records.add(Map("t" -> "batch", "s" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "batch_ms" -> p.batchDuration, "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum))
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streams)
  }

  /** Detach, after the listener bus has delivered every queued event. */
  def unregister(spark: SparkSession): Unit = {
    Harness.drainListenerBus(spark)
    spark.streams.removeListener(streams)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  def drain(): Seq[Map[String, Any]] = records.asScala.toSeq
}
