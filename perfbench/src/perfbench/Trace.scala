package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed call. `startMs`/`endMs` are wall-clock milliseconds (the
  * clock Spark stamps listener events with), `nanos` the monotonic
  * duration used for every reported time.
  */
final class Span(val name: String, val parent: Option[Span], val startMs: Long) {
  var endMs: Long = startMs
  var nanos: Long = 0L
  val children = mutable.ArrayBuffer.empty[Span]
  def seconds: Double = nanos / 1e9
  def selfSeconds: Double = (nanos - children.map(_.nanos).sum) / 1e9
  def contains(ms: Long): Boolean = ms >= startMs && ms <= endMs
}

/** Spans kept in memory for workload -> op -> layer call. Spans are
  * always recorded (they cost two clock reads); only the job listener is
  * gated on `--trace 1`.
  */
final class Tracer {
  val roots = mutable.ArrayBuffer.empty[Span]
  private var current: Option[Span] = None

  def span[A](name: String)(body: => A): A = {
    val s = new Span(name, current, System.currentTimeMillis())
    current.fold(roots += s)(_.children += s)
    current = Some(s)
    val t0 = System.nanoTime()
    try body
    finally {
      s.nanos = System.nanoTime() - t0
      s.endMs = System.currentTimeMillis()
      current = s.parent
    }
  }

  def all: Seq[Span] = {
    def walk(s: Span): Seq[Span] = s +: s.children.toSeq.flatMap(walk)
    roots.toSeq.flatMap(walk)
  }

  /** Innermost span open at `ms` — a job belongs to the call that was
    * running when it was submitted. Ops run one at a time, so the time
    * window is exact even when `Sessions.inParallel` threads submit jobs
    * with stale job-group properties.
    */
  def innermostAt(ms: Long): Option[Span] = {
    def down(s: Span): Span =
      s.children.find(_.contains(ms)).map(down).getOrElse(s)
    roots.find(_.contains(ms)).map(down)
  }
}

/** Per-job totals of the task metrics the per-layer report needs. */
final class JobStats(val id: Int, val startMs: Long) {
  var endMs: Long = startMs
  var runMs = 0L
  var cpuNs = 0L
  var schedDelayMs = 0L
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var spillB = 0L
  var inputB = 0L
  var outputB = 0L
}

/** Spark listener registered only in traced runs: records every job with
  * its tasks' metrics. Events arrive on the listener bus thread; readers
  * drain the bus first and then read under the lock.
  */
final class JobRecorder extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobStats]
  private val stageToJob = mutable.HashMap.empty[Int, Int]
  /** Time spent in this listener's callbacks: the work tracing adds. */
  private var busyNs = 0L

  private def timed(body: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    body
    busyNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    jobs(e.jobId) = new JobStats(e.jobId, e.time)
    e.stageIds.foreach(stageToJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    for (jobId <- stageToJob.get(e.stageId); j <- jobs.get(jobId) if m != null) {
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      val info = e.taskInfo
      j.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime)
      j.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      j.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      j.spillB += m.diskBytesSpilled + m.memoryBytesSpilled
      j.inputB += m.inputMetrics.bytesRead
      j.outputB += m.outputMetrics.bytesWritten
    }
  }

  def snapshot(): Seq[JobStats] = synchronized(jobs.values.toSeq)

  def busySeconds: Double = synchronized(busyNs / 1e9)
}
