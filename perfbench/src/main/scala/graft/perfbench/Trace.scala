package graft.perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Span recorder for the traced run.
  *
  * Spans are kept in memory and written out when the run ends. The tree
  * is repetition -> query -> build / plan / exec -> Spark job -> stage.
  * The benchmark opens the first three levels around its own calls into
  * the engine; the job and stage spans come from Spark's public listener
  * and hang under the phase span whose job group submitted them.
  */
final case class Span(id: Int, parent: Int, name: String, kind: String,
    startNs: Long, var endNs: Long)

final class Trace {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.Map.empty[Int, Span]

  def open(parent: Int, name: String, kind: String): Int = synchronized {
    val s = Span(spans.size + 1, parent, name, kind, System.nanoTime(), -1L)
    spans += s; byId(s.id) = s; s.id
  }
  def close(id: Int): Unit = synchronized { byId(id).endNs = System.nanoTime() }

  /** A span whose bounds were measured elsewhere (listener timestamps). */
  def record(parent: Int, name: String, kind: String, startNs: Long, endNs: Long): Int =
    synchronized {
      val s = Span(spans.size + 1, parent, name, kind, startNs, endNs)
      spans += s; byId(s.id) = s; s.id
    }

  def all: Seq[Span] = synchronized(spans.toSeq)

  /** Duration minus the part of the span's interval its children cover. */
  def selfNs(s: Span, children: Map[Int, Seq[Span]]): Long = {
    val kids = children.getOrElse(s.id, Nil)
      .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (s.endNs - s.startNs) - covered
  }
}

/** Per-task numbers the listener keeps for the traced repetitions. */
final case class TaskRec(stageId: Int, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, fetchWaitMs: Long,
    spillBytes: Long, peakExecBytes: Long)

final case class JobRec(jobId: Int, group: String, span: String,
    startMs: Long, var endMs: Long, stageIds: Seq[Int])

/** Collects jobs, stages and tasks through Spark's public listener API.
  * Jobs are attributed by the job group and the `perfbench.span` local
  * property that the benchmark sets before each phase. */
final class Collector extends SparkListener {
  val jobs = mutable.Map.empty[Int, JobRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val stageTimes = mutable.Map.empty[Int, (Long, Long)]
  @volatile var jobsEnded = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    jobs(e.jobId) = JobRec(e.jobId,
      p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse(""),
      p.flatMap(x => Option(x.getProperty("perfbench.span"))).getOrElse(""),
      e.time, -1L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
    jobsEnded += 1
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (a <- i.submissionTime; b <- i.completionTime) stageTimes(i.stageId) = (a, b)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val r = m.shuffleReadMetrics
      tasks += TaskRec(e.stageId, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        r.remoteBytesRead + r.localBytesRead, r.fetchWaitTime,
        m.diskBytesSpilled, m.peakExecutionMemory)
    }
  }
  def jobsStarted: Int = synchronized(jobs.size)
}
