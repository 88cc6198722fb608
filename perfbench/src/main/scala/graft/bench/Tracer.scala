package graft.bench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Span recorder for the traced run.
  *
  * The runner opens one span per call into a layer; while it is open the
  * span id rides on the calling thread as a Spark local property, so every
  * job the call launches carries it. This listener links each job, and the
  * stages of that job, to the span. Jobs launched from threads that do not
  * inherit the property (the micro-batch thread of a streaming query) fall
  * back to the span open at the time, which is exact for a one-client
  * closed loop. Everything is kept in memory and written out once the run
  * ends.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  /** Per-span counters summed over the span's stages and tasks. */
  final class Counters {
    val taskMs, scanRows, shuffleRecords, shuffleBytes, spillBytes,
      failedTasks, stageRetries = new AtomicLong
  }

  @volatile private var current: Long = NoSpan
  private val jobSpan = new ConcurrentHashMap[Int, java.lang.Long]
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]
  /** (span, job start ms, job end ms) of every finished job in a span. */
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]
  val counters = new ConcurrentHashMap[Long, Counters]
  private val lastEvent = new AtomicLong(System.nanoTime())

  private def countersOf(span: Long): Counters =
    counters.computeIfAbsent(span, _ => new Counters)

  /** Runs `body` inside span `id`. */
  def within[T](id: Long)(body: => T): T = {
    sc.setLocalProperty(SpanKey, id.toString)
    current = id
    try body
    finally { current = NoSpan; sc.setLocalProperty(SpanKey, null) }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val prop = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
    val span = prop.map(_.toLong).getOrElse(current)
    if (span != NoSpan) {
      jobSpan.put(e.jobId, span)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(id => stageSpan.put(id, span))
    }
    lastEvent.set(System.nanoTime())
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val span = jobSpan.remove(e.jobId)
    if (span != null) jobs.add((span, jobStart.remove(e.jobId), e.time))
    lastEvent.set(System.nanoTime())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val span = stageSpan.get(e.stageInfo.stageId)
    if (span != null) {
      val c = countersOf(span)
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        c.taskMs.addAndGet(m.executorRunTime)
        c.scanRows.addAndGet(m.inputMetrics.recordsRead)
        c.shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.addAndGet(m.memoryBytesSpilled)
      }
      if (e.stageInfo.attemptNumber() > 0) c.stageRetries.incrementAndGet()
    }
    lastEvent.set(System.nanoTime())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.get(e.stageId)
    if (span != null) e.reason match {
      case org.apache.spark.Success | _: org.apache.spark.TaskKilled =>
      case _ => countersOf(span).failedTasks.incrementAndGet()
    }
    lastEvent.set(System.nanoTime())
  }

  /** Listener events arrive asynchronously: wait until the bus has been
    * quiet for `quietMs` (bounded by `maxMs`) before reading the counters.
    */
  def drain(quietMs: Long = 300, maxMs: Long = 10000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() - lastEvent.get() < quietMs * 1000000L &&
           System.nanoTime() < deadline) Thread.sleep(25)
  }
}

object Tracer {
  val SpanKey = "graft.bench.span"
  val NoSpan = -1L
}
