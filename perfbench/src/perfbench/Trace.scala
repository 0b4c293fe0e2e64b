package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** Listener for the traced run. It only records; attribution to rows
  * happens after a pass, by time window, because rows run one at a
  * time and job-group properties do not follow the `Future`s some
  * builders submit jobs from.
  */
final class Trace extends SparkListener {
  import Trace._

  val jobs = ArrayBuffer.empty[Job]
  val stages = ArrayBuffer.empty[Stage]
  val tasks = ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val i = jobs.lastIndexWhere(_.id == e.jobId)
    if (i >= 0) jobs(i) = jobs(i).copy(endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      for (s <- si.submissionTime; c <- si.completionTime)
        stages += Stage(si.stageId, s, c)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, e.taskInfo.launchTime,
      e.taskInfo.duration, m.executorCpuTime, m.inputMetrics.bytesRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  def clear(): Unit = synchronized { jobs.clear(); stages.clear(); tasks.clear() }
}

object Trace {
  final case class Job(id: Int, submitMs: Long, endMs: Long, stageIds: Seq[Int])
  final case class Stage(id: Int, submitMs: Long, endMs: Long)
  final case class Task(stageId: Int, launchMs: Long, durationMs: Long,
                        cpuNs: Long, inputBytes: Long, shuffleBytes: Long,
                        spillBytes: Long)

  /** One row execution of a traced pass, as the harness saw it. */
  final case class RowRun(pass: Int, row: String, module: String,
                          startMs: Long, buildEndMs: Long, endMs: Long,
                          buildS: Double, execS: Double,
                          materializedBytes: Long, exchanges: Int,
                          reusedExchanges: Int, fileScans: Int,
                          scannedFileBytes: Long)

  /** Per-row figures after attribution. */
  final case class RowLayer(run: RowRun, jobs: Int, eagerJobs: Int,
                            idleS: Double, taskCpuS: Double,
                            taskRunS: Double, tasks: Int,
                            inputBytes: Long, shuffleBytes: Long,
                            spillBytes: Long)

  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val cl = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var (curA, curB) = (Long.MinValue, Long.MinValue)
    for ((a, b) <- cl) {
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Attribute the recorded jobs, stages and tasks to the pass's rows
    * and emit the spans row -> build/exec -> job -> stage.
    */
  def attribute(t: Trace, runs: Seq[RowRun],
                spans: ArrayBuffer[String]): Seq[RowLayer] = t.synchronized {
    def rowOf(ms: Long): Option[RowRun] =
      runs.find(r => ms >= r.startMs && ms <= r.endMs)
    val jobRow = t.jobs.flatMap(j => rowOf(j.submitMs).map(j -> _))
    val stageJob = jobRow.flatMap { case (j, _) => j.stageIds.map(_ -> j) }
      .groupBy(_._1).map { case (s, js) => s -> js.map(_._2).minBy(_.id) }
    val stageRow = stageJob.flatMap { case (s, j) =>
      rowOf(j.submitMs).map(s -> _) }
    def taskRow(k: Task): Option[RowRun] =
      stageRow.get(k.stageId).orElse(rowOf(k.launchMs))
    runs.map { r =>
      val js = jobRow.collect { case (j, rr) if rr eq r => j }
      val ss = t.stages.filter(s => stageRow.get(s.id).exists(_ eq r))
      val ks = t.tasks.filter(k => taskRow(k).exists(_ eq r))
      val busy = covered(ss.map(s => (s.submitMs, s.endMs)).toSeq, r.startMs, r.endMs)
      val trace = s"p${r.pass}/${r.row}"
      def span(id: String, name: String, a: Long, b: Long,
               parent: String): Unit =
        spans += s"""{"trace":"$trace","span":"$id","name":"$name",""" +
          s""""start_ms":$a,"end_ms":$b,"parent":""" +
          (if (parent == null) "null" else "\"" + parent + "\"") + "}"
      span("row", r.row, r.startMs, r.endMs, null)
      span("build", "build", r.startMs, r.buildEndMs, "row")
      span("exec", "exec", r.buildEndMs, r.endMs, "row")
      for (j <- js) {
        val end = if (j.endMs >= 0) j.endMs else r.endMs
        span(s"job${j.id}", s"job ${j.id}", j.submitMs, end,
          if (j.submitMs <= r.buildEndMs) "build" else "exec")
      }
      for (s <- ss)
        span(s"stage${s.id}", s"stage ${s.id}", s.submitMs, s.endMs,
          stageJob.get(s.id).map(j => s"job${j.id}").orNull)
      RowLayer(r, js.size, js.count(_.submitMs <= r.buildEndMs),
        (r.endMs - r.startMs - busy) / 1e3, ks.map(_.cpuNs).sum / 1e9,
        ks.map(_.durationMs).sum / 1e3, ks.size, ks.map(_.inputBytes).sum,
        ks.map(_.shuffleBytes).sum, ks.map(_.spillBytes).sum)
    }
  }
}
