package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Spark work done inside one wall-clock window, summed. */
final case class Work(jobs: Long, stages: Long, tasks: Long,
    taskCpuS: Double, taskRunS: Double, inputBytes: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, planS: Double,
    jobBusyS: Double) {
  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, taskCpuS + o.taskCpuS, taskRunS + o.taskRunS,
    inputBytes + o.inputBytes, shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, planS + o.planS,
    jobBusyS + o.jobBusyS)
}

object Work {
  val zero: Work = Work(0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** Counts Spark work from outside the engine: a listener the benchmark
  * registers itself. Events arrive on the listener bus with their own
  * wall-clock stamps, so the ledger keeps them raw and sums them per
  * window afterwards. The benchmark runs one caller, so windows never
  * overlap and a job belongs to the window its start falls in.
  */
final class Ledger extends SparkListener with QueryExecutionListener {
  private val openJobs = mutable.Map.empty[Int, Long]
  private val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
  private val stages = mutable.ArrayBuffer.empty[Long]
  // launch ms, cpu ns, run ms, input bytes, shuffle read, shuffle write
  private val tasks = mutable.ArrayBuffer.empty[Array[Long]]
  // start ms of optimisation, optimisation + physical planning ms
  private val plans = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { openJobs(e.jobId) = e.time }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += e.stageInfo.submissionTime.getOrElse(0L) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      tasks += Array(e.taskInfo.launchTime, m.executorCpuTime,
        m.executorRunTime, m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten)
    }
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = Seq("optimization", "planning").flatMap(qe.tracker.phases.get)
    if (phases.nonEmpty) synchronized {
      plans += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)

  /** Work whose events start in [from, to] ms; call after the bus drained. */
  def window(from: Long, to: Long): Work = synchronized {
    def in(t: Long) = t >= from && t <= to
    val js = jobs.filter(j => in(j._1))
    val ts = tasks.filter(t => in(t(0)))
    // wall time covered by at least one running job, clipped to the window
    var busy = 0L
    var reach = from
    js.map { case (s, e) => (s max from, e min to) }.sortBy(_._1)
      .foreach { case (s, e) =>
        if (e > reach) { busy += e - (s max reach); reach = e }
      }
    Work(js.size, stages.count(in), ts.size,
      ts.map(_(1)).sum / 1e9, ts.map(_(2)).sum / 1e3, ts.map(_(3)).sum,
      ts.map(_(4)).sum, ts.map(_(5)).sum,
      plans.filter(p => in(p._1)).map(_._2).sum / 1e3, busy / 1e3)
  }
}
