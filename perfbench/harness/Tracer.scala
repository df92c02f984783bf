package perfbench

import org.apache.spark.sql.PerfbenchInternals
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

import scala.collection.mutable

/** A span: one timed call of a layer, in epoch milliseconds. */
final case class Span(name: String, start: Double, end: Double, op: Int,
    var parent: Int = -1) {
  def dur: Double = math.max(0.0, end - start)
}

/** Per-stage task totals, filled from task-end events. */
final class StageAcc {
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var peakMem = 0L
  var records = 0L
}

/** The benchmark's own listener: it records Spark jobs, stages, tasks and
  * SQL executions with their Catalyst planning phases, attributed to the
  * operation that ran them through the job group the harness sets per
  * operation, and keeps the spans in memory until the run ends.
  */
final class Tracer extends SparkListener {
  val spans = mutable.ArrayBuffer.empty[Span]
  // jobId -> (op, phase, span index)
  private val jobs = mutable.Map.empty[Int, (Int, String, Int)]
  // stageId -> jobId (first job that submitted it)
  private val stageJob = mutable.Map.empty[Int, Int]
  val stageAcc = mutable.Map.empty[Int, StageAcc]
  // completed stages: stageId -> (op, phase, reads a file)
  val stages = mutable.Map.empty[Int, (Int, String, Boolean)]
  // op -> phase -> job count
  val jobCount = mutable.Map.empty[(Int, String), Int].withDefaultValue(0)
  // op -> first job or SQL execution start (epoch ms)
  val firstJob = mutable.Map.empty[Int, Long]
  // SQL executionId -> (op, start, is a root execution)
  private val executions = mutable.Map.empty[Long, (Int, Long, Boolean)]

  private def opOf(group: Option[String]): Int = group
    .filter(_.startsWith("perfbench-"))
    .flatMap(_.stripPrefix("perfbench-").toIntOption).getOrElse(-1)

  private def opOf(props: java.util.Properties): Int =
    opOf(Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))))

  private def started(op: Int, time: Long): Unit =
    if (op >= 0 && firstJob.get(op).forall(_ > time)) firstJob(op) = time

  private def phaseOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.PhaseKey)))
      .getOrElse("action")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = opOf(e.properties)
    val phase = phaseOf(e.properties)
    spans += Span("spark.job", e.time.toDouble, Double.NaN, op)
    jobs(e.jobId) = (op, phase, spans.size - 1)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    jobCount((op, phase)) += 1
    started(op, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { case (_, _, i) =>
      spans(i) = spans(i).copy(end = e.time.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      if (info.failureReason.isEmpty) {
        val (op, phase) = stageJob.get(info.stageId).flatMap(jobs.get)
          .map(j => (j._1, j._2)).getOrElse((-1, "action"))
        val scan = info.rddInfos.exists(_.name.contains("FileScanRDD"))
        stages(info.stageId) = (op, phase, scan)
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stageAcc.getOrElseUpdate(e.stageId, new StageAcc)
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      a.records += m.inputMetrics.recordsRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        val op = opOf(s.jobGroupId)
        executions(s.executionId) = (op, s.time,
          s.rootExecutionId.forall(_ == s.executionId))
        started(op, s.time)
      case x: SparkListenerSQLExecutionEnd =>
        executions.remove(x.executionId).foreach { case (op, start, root) =>
          // a CLI program's root executions are its writes and collects;
          // nested ones only contribute their planning phases
          if (root) spans += Span(
            s"query:${PerfbenchInternals.name(x).getOrElse("unnamed")}",
            start.toDouble, x.time.toDouble, op)
          PerfbenchInternals.phases(x).foreach { case (n, p) =>
            spans += Span(s"plan.$n", p.startTimeMs.toDouble,
              p.endTimeMs.toDouble, op)
          }
        }
      case _ =>
    }
  }

  /** Forget everything recorded so far (between passes). */
  def reset(): Unit = synchronized {
    spans.clear(); jobs.clear(); stageJob.clear(); stageAcc.clear()
    stages.clear(); jobCount.clear(); firstJob.clear(); executions.clear()
  }
}

object Tracer {
  val PhaseKey = "perfbench.phase"
}
