package perfbench

import java.time.Instant
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, V2WriteCommand}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch nanoseconds, so harness spans line up with the
  * epoch-millisecond times Spark stamps on its listener events. */
object Clock {
  private val epoch0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def now(): Long = epoch0 + (System.nanoTime() - nano0)
}

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that caused it (0 for the root). */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    start: Long, end: Long) {
  def dur: Long = end - start
}

/** Task-level counters summed over one Spark job. */
final class JobStats(val id: Int, val span: Long, val start: Long) {
  var end: Long = start
  var stages = 0
  var stageRetries = 0
  var tasks = 0
  var taskFailures = 0
  var busyMs = 0L
  var cpuNs = 0L
  var scanBytes = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var outBytes = 0L
}

/** One micro-batch, from `StreamingQueryProgress`. */
final case class Batch(start: Long, durations: Map[String, Long],
    inputRows: Long) {
  def trigger: Long = durations.getOrElse("triggerExecution", 0L)
  def end: Long = start + trigger * 1000000L
}

/** The planning phases of one `noop` write: phase -> (start, end), in
  * epoch nanoseconds. */
final case class Plan(phases: Map[String, (Long, Long)]) {
  def start: Long = phases.values.map(_._1).min
  def end: Long = phases.values.map(_._2).max
}

/** Collects Spark jobs, their task metrics, micro-batch progress and the
  * planning phases of each timed write.
  * Jobs are tagged with the span id the harness set as a local property
  * before the phase that launched them; streaming threads inherit it
  * from the thread that started the stream. Job and task counting only
  * happens while `tracing` is on; stream progress is always recorded,
  * because the end-to-end batch latencies come from it. */
final class Recorder extends SparkListener {
  @volatile var tracing = false
  private val jobs = mutable.LinkedHashMap[Int, JobStats]()
  private val stageJob = mutable.HashMap[Int, JobStats]()
  private val batchBuf = mutable.ArrayBuffer[Batch]()
  private val planBuf = mutable.ArrayBuffer[Plan]()

  def jobsBetween(from: Long, to: Long): Seq[JobStats] = synchronized {
    jobs.values.filter(j => j.start >= from && j.end <= to).toSeq
  }
  def batchesBetween(from: Long, to: Long): Seq[Batch] = synchronized {
    batchBuf.filter(b => b.start >= from && b.start <= to).toSeq
  }

  def plansBetween(from: Long, to: Long): Seq[Plan] = synchronized {
    // phase times are whole milliseconds
    planBuf.filter(p => p.start >= from - 1000000L && p.end <= to + 1000000L)
      .toSeq
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (tracing) {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Recorder.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    synchronized {
      val j = new JobStats(e.jobId, span, e.time * 1000000L)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time * 1000000L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageJob.get(e.stageInfo.stageId).foreach { j =>
        j.stages += 1
        if (e.stageInfo.attemptNumber() > 0) j.stageRetries += 1
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (e.reason != org.apache.spark.Success) j.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        j.busyMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.scanBytes += m.inputMetrics.bytesRead
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.entrySet().toArray
        .map(_.asInstanceOf[java.util.Map.Entry[String, java.lang.Long]])
        .map(x => x.getKey -> x.getValue.longValue()).toMap
      val start = Instant.parse(p.timestamp)
      val b = Batch(start.getEpochSecond * 1000000000L + start.getNano, d,
        p.numInputRows)
      Recorder.this.synchronized { batchBuf += b }
    }
  }

  /** `save()` on the `noop` sink optimises and plans the query again in
    * the write command's own QueryExecution, so the planning a timed
    * execution pays is read from that one, not from the DataFrame's. */
  val plans: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit =
      if (Recorder.isNoopWrite(qe.logical)) {
        val p = Plan(qe.tracker.phases.map { case (k, v) =>
          k -> (v.startTimeMs * 1000000L, v.endTimeMs * 1000000L) })
        if (p.phases.nonEmpty) Recorder.this.synchronized { planBuf += p }
      }
    override def onFailure(funcName: String, qe: QueryExecution,
        e: Exception): Unit = ()
  }
}

object Recorder {
  val SpanKey = "perfbench.span"

  def isNoopWrite(plan: LogicalPlan): Boolean = plan match {
    case w: V2WriteCommand => w.table match {
      case r: DataSourceV2Relation => r.table.name == "noop-table"
      case _ => false
    }
    case _ => false
  }
}

/** In-memory span store; written out once, when the run ends. */
final class Spans {
  private val ids = new AtomicLong(0)
  private val buf = mutable.ArrayBuffer[Span]()
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = synchronized { buf += s }
  def all: Seq[Span] = synchronized(buf.toSeq)
}

object Intervals {
  /** Length of the union of `ivs`, clipped to [from, to]. */
  def covered(ivs: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
