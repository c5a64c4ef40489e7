package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Per-operation Spark job, stage and task counters, for traced runs.
  *
  * Every job carries the operation id the harness sets as a local property
  * before the operation starts, so jobs, stages and tasks are attributed to
  * the operation that caused them; work outside any operation (the store fit,
  * the probe) gets a negative id.
  */
final class Listener(clock: Clock) extends SparkListener {
  private val stageOp = mutable.Map.empty[Int, Int]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val jobOp = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  private var open = 0
  val jobSpans = mutable.ArrayBuffer.empty[(Int, String, Long, Long)]
  private val perOp = mutable.LinkedHashMap.empty[Int, mutable.LinkedHashMap[String, Double]]

  private def add(op: Int, k: String, v: Double): Unit = {
    val m = perOp.getOrElseUpdate(op, mutable.LinkedHashMap.empty)
    m(k) = m.getOrElse(k, 0.0) + v
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Listener.OpKey)))
      .map(_.toInt).getOrElse(-1)
    jobOp(e.jobId) = op
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageOp(_) = op)
    open += 1
    add(op, "exec.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val op = jobOp.getOrElse(e.jobId, -1)
    jobStart.remove(e.jobId).foreach { t0 =>
      jobSpans += ((op, s"job.${e.jobId}", clock.fromEpochMs(t0), clock.fromEpochMs(e.time)))
    }
    open -= 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(stageSubmit(e.stageInfo.stageId) = _)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add(stageOp.getOrElse(e.stageInfo.stageId, -1), "exec.stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val op = stageOp.getOrElse(e.stageId, -1)
    add(op, "exec.tasks", 1)
    if (!e.taskInfo.successful) add(op, "exec.task_fail", 1)
    stageSubmit.get(e.stageId).foreach { s =>
      add(op, "exec.sched_wait_s", math.max(0L, e.taskInfo.launchTime - s) / 1e3)
    }
    val m = e.taskMetrics
    if (m != null) {
      add(op, "exec.task_s", m.executorRunTime / 1e3)
      add(op, "exec.task_cpu_s", m.executorCpuTime / 1e9)
      add(op, "shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      add(op, "shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
      add(op, "shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add(op, "shuffle.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
      add(op, "scan.read_mb", m.inputMetrics.bytesRead / 1048576.0)
      add(op, "scan.rows", m.inputMetrics.recordsRead.toDouble)
    }
  }

  /** Listener events arrive asynchronously: wait (bounded) until every
    * started job has been seen to end.
    */
  def awaitDrained(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (synchronized(open > 0) && System.nanoTime() < deadline) Thread.sleep(10)
    Thread.sleep(50) // the task-end events of a job can trail its job-end
  }

  /** Counters per operation id: `{"<op>": {"<metric>": value}}`. */
  def summaryJson: String = synchronized {
    Json.obj(perOp.toSeq.map { case (op, m) =>
      op.toString -> Json.obj(m.toSeq.map { case (k, v) => k -> Json.num(v) })
    })
  }
}

object Listener {
  val OpKey = "perfbench.op"
}
