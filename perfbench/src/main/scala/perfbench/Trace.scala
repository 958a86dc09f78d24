package perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed interval around a call into a layer. Times are nanoseconds on the
  * tracer's clock; `traceId` is `<workload>:<pass>`, shared by all spans of a pass.
  */
final case class Span(id: Int, parent: Option[Int], name: String, traceId: String,
    start: Long, end: Long) {
  def duration: Long = end - start
}

/** Span recorder for the benchmark's own calls into the library.
  *
  * Pass spans are always recorded: the untraced run needs their intervals to charge
  * run-total counters to the timed passes. Layer spans are recorded only when
  * `layers` is on; otherwise `layer` just runs its body.
  */
final class Tracer(var layers: Boolean) {
  // aligned to a millisecond tick, so that an epoch-millisecond stamp m maps to the
  // start of the millisecond it names
  private val (t0Ms, t0Ns) = {
    val m = System.currentTimeMillis()
    var tick = m
    while (tick == m) tick = System.currentTimeMillis()
    (tick, System.nanoTime())
  }
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var open: List[(Int, String)] = Nil // (id, traceId) of the open spans
  private var nextId = 0

  def now: Long = System.nanoTime() - t0Ns

  /** Spark listener events carry epoch milliseconds; map them onto this clock. */
  def fromEpochMs(ms: Long): Long = (ms - t0Ms) * 1000000L

  def pass[A](traceId: String)(f: => A): (A, Span) = {
    val a = record("pass", traceId, f)
    (a, recorded.last)
  }

  def layer[A](name: String)(f: => A): A =
    if (layers) record(name, open.head._2, f) else f

  private def record[A](name: String, traceId: String, f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1)
    val start = now
    open = (id, traceId) :: open
    try f
    finally {
      open = open.tail
      recorded += Span(id, parent, name, traceId, start, now)
    }
  }

  def spans: Seq[Span] = recorded.toSeq
}

object Spans {

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) {
          total += b - math.max(a, reach)
          reach = b
        }
      }
    total
  }

  private val Ms = 1000000L

  /** Charge each job to one of `spans` (which must not nest): the latest-starting
    * span that can hold its submission. Spark stamps a submission with the
    * millisecond it falls in, so a stamp t means a time in [t, t + 1 ms).
    */
  def charge(spans: Seq[Span], jobs: Seq[JobStats]): Map[Int, Seq[JobStats]] = {
    val byStart = spans.sortBy(-_.start)
    jobs.flatMap(j => byStart.find(s => s.start <= j.start + Ms && s.end >= j.start).map(_.id -> j))
      .groupBy(_._1).map { case (id, js) => id -> js.map(_._2) }
  }

  /** A span's self time: its duration minus the part of it its children cover. */
  def selfTime(span: Span, all: Seq[Span]): Long =
    span.duration - unionLength(
      all.filter(_.parent.contains(span.id)).map(c => (c.start, c.end)), span.start, span.end)
}

/** Counters of one Spark job, summed over its tasks. */
final class JobStats(val start: Long) {
  var tasks, failedTasks = 0L
  var runNs, gcNs, fetchWaitNs, schedDelayNs = 0L
  var shuffleWriteBytes, spillBytes, peakExecMem = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Listener that sums task metrics per job. A job is charged to the span open at
  * its submission (the span whose interval holds the job's start), so events that
  * reach the listener bus after the span closed still land in the right place.
  * With `keepTaskIntervals` (traced run) it also keeps each task's run interval, for
  * the time a span spent with no task running.
  */
final class JobLedger(tracer: Tracer, keepTaskIntervals: Boolean) extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobStats]
  private val jobOfStage = mutable.HashMap.empty[Int, Int]
  private var ended = 0
  @volatile private var lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobStats(tracer.fromEpochMs(e.time))
    e.stageIds.foreach(s => jobOfStage(s) = e.jobId)
    lastEventNs = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ended += 1
    lastEventNs = System.nanoTime()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    for (jobId <- jobOfStage.get(e.stageId); j <- jobs.get(jobId)) {
      val info = e.taskInfo
      j.tasks += 1
      if (e.reason != Success) j.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runNs += m.executorRunTime * 1000000L
        j.gcNs += m.jvmGCTime * 1000000L
        j.fetchWaitNs += m.shuffleReadMetrics.fetchWaitTime * 1000000L
        // the Spark UI's scheduler delay: task time not spent deserializing,
        // running, serializing the result or fetching it
        j.schedDelayNs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime) * 1000000L
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
        j.peakExecMem = math.max(j.peakExecMem, m.peakExecutionMemory)
      }
      if (keepTaskIntervals)
        j.taskIntervals += ((tracer.fromEpochMs(info.launchTime), tracer.fromEpochMs(info.finishTime)))
    }
  }

  /** Block until every started job has ended and the bus has been quiet for a
    * moment, so that all task events of the run are counted.
    */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def settled = synchronized(ended >= jobs.size) && System.nanoTime() - lastEventNs > 200000000L
    while (!settled && System.nanoTime() < deadline) Thread.sleep(20)
  }

  def all: Seq[JobStats] = synchronized(jobs.values.toSeq)
}
