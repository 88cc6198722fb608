package graft.obs

import java.lang.management.ManagementFactory
import java.util.UUID
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, TimeUnit, TimeoutException}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.{SparkContext, Success, TaskKilled}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** The runtime view of a run: one listener per `SparkContext` that keeps
  * monotonic work totals and the rows of the jobs started since the
  * last barrier. [[Profiler.measure]] brackets a body with
  * two barriers and returns what ran between them.
  *
  * A barrier is exact, not a wait for a quiet bus: it runs a 1-task
  * sentinel job and blocks until the listener sees that job start. The
  * scheduler posts every event of a finished job (task ends, stage
  * completion, job end) before it starts the next job, and the bus
  * delivers in order, so the snapshot taken at the sentinel's start
  * holds everything the body's jobs did and nothing after them. The
  * sentinel's own stage and task events are left out of the totals.
  *
  * A job row is named by the engine code that ran it: the first `graft.`
  * frame of its SQL execution's call site, which the execution's start
  * event carries and every job of the execution (AQE query stages
  * included) points back to through its execution-id property. A job
  * outside any SQL execution, or one with no `graft.` frame, falls back
  * to its description, then to its result stage's call site.
  */
final class Profiler private (sc: SparkContext) extends SparkListener {
  import Profiler._

  // Written only on the listener bus thread; snapshots leave it as
  // immutable values through the barrier futures.
  private var totals = Counters()
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val jobStages = mutable.Map.empty[Int, Seq[Int]]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val sentinelStages = mutable.Set.empty[Int]
  // the graft frame of each running SQL execution, dropped at its end
  private val executionSites = mutable.Map.empty[Long, String]
  private val barriers = new ConcurrentHashMap[String, CompletableFuture[Mark]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(BarrierKey))) match {
      case Some(token) =>
        sentinelStages ++= e.stageIds
        jobStages(e.jobId) = e.stageIds
        Option(barriers.get(token)).foreach(_.complete(Mark(totals, jobs.values.toVector)))
        jobs.clear()
      case None =>
        totals = totals.copy(jobs = totals.jobs + 1)
        jobStages(e.jobId) = e.stageIds
        e.stageIds.foreach(stageJob(_) = e.jobId)
        // the rows are bounded: a session that never calls a barrier
        // keeps counting but stops keeping rows
        if (jobs.size < MaxJobRows) {
          val site = props
            .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
            .flatMap(id => executionSites.get(id.toLong))
            .orElse(props.flatMap(p => Option(p.getProperty("spark.job.description"))))
            .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("")
          jobs(e.jobId) = Job(e.jobId, e.time, -1L, Vector.empty, 0L, 0L, 0L, site)
        }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    if (!sentinelStages(info.stageId)) {
      val m = Option(info.taskMetrics)
      val recs = m.fold(0L)(_.shuffleWriteMetrics.recordsWritten)
      val runMs = m.fold(0L)(_.executorRunTime)
      val cpuMs = m.fold(0L)(_.executorCpuTime / 1000000L)
      totals = totals.copy(
        stages = totals.stages + 1,
        inputBytes = totals.inputBytes + m.fold(0L)(_.inputMetrics.bytesRead),
        shuffleRecords = totals.shuffleRecords + recs,
        shuffleBytes = totals.shuffleBytes + m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
        spillBytes = totals.spillBytes + m.fold(0L)(_.memoryBytesSpilled),
        taskRunMs = totals.taskRunMs + runMs,
        cpuMs = totals.cpuMs + cpuMs,
        stageRetries = totals.stageRetries + (if (info.attemptNumber() > 0) 1 else 0))
      for (id <- stageJob.get(info.stageId); j <- jobs.get(id))
        jobs(id) = j.copy(
          stages = j.stages :+ Stage(info.stageId, info.name, info.numTasks, recs),
          tasks = j.tasks + info.numTasks, taskRunMs = j.taskRunMs + runMs,
          cpuMs = j.cpuMs + cpuMs)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (!sentinelStages(e.stageId)) {
      // only a genuine failure re-executes (and re-writes shuffle rows):
      // a TaskKilled end (a cancelled job, a speculative kill) does not
      val failed = e.reason match {
        case Success | _: TaskKilled => false
        case _ => e.taskInfo != null && !e.taskInfo.successful
      }
      totals = totals.copy(tasks = totals.tasks + 1,
        failedTasks = totals.failedTasks + (if (failed) 1 else 0))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobStages.remove(e.jobId).foreach { ids =>
      sentinelStages --= ids
      stageJob --= ids
    }
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      x.details.linesIterator.map(_.trim).find(_.startsWith("graft."))
        .foreach(executionSites(x.executionId) = _)
    case x: SparkListenerSQLExecutionEnd =>
      executionSites.remove(x.executionId); ()
    case _ =>
  }

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
    installed.remove(sc, this)
    ()
  }

  private def barrier(): Mark = {
    val token = UUID.randomUUID().toString
    val seen = new CompletableFuture[Mark]()
    barriers.put(token, seen)
    try {
      sc.setLocalProperty(BarrierKey, token)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(BarrierKey, null)
      try seen.get(60, TimeUnit.SECONDS)
      catch { case _: TimeoutException =>
        throw new IllegalStateException("the profiler barrier job never reached the listener") }
    } finally barriers.remove(token)
  }

  private def measure(body: => Any): Record = {
    val before = barrier()
    val gc0 = gcMs()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val failure =
      try { body; None }
      catch { case NonFatal(e) => Some(s"${e.getClass.getName}: ${e.getMessage}") }
    val wallS = (System.nanoTime() - t0) / 1e9
    val gc = gcMs() - gc0
    val after = barrier()
    Record(startMs, wallS, after.totals - before.totals, gc, after.jobs, failure)
  }
}

object Profiler {
  /** Work totals: counts, bytes and milliseconds. */
  final case class Counters(
      jobs: Long = 0, stages: Long = 0, tasks: Long = 0, inputBytes: Long = 0,
      shuffleRecords: Long = 0, shuffleBytes: Long = 0, spillBytes: Long = 0,
      taskRunMs: Long = 0, cpuMs: Long = 0, failedTasks: Long = 0, stageRetries: Long = 0) {
    def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, inputBytes - o.inputBytes, shuffleRecords - o.shuffleRecords,
      shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes, taskRunMs - o.taskRunMs,
      cpuMs - o.cpuMs, failedTasks - o.failedTasks, stageRetries - o.stageRetries)
  }

  /** A completed stage of a job row: its name is the call site that built it. */
  final case class Stage(id: Int, name: String, tasks: Int, shuffleRecords: Long)

  /** One job: scheduler epoch-ms start and end (-1 while running), its
    * completed stages, their task count, run and CPU time, and its
    * description or call site.
    */
  final case class Job(id: Int, startMs: Long, endMs: Long, stages: Vector[Stage],
                       tasks: Long, taskRunMs: Long, cpuMs: Long, site: String)

  /** What one `measure` saw: the body's wall seconds from epoch-ms
    * `startMs`, the work deltas, the JVM GC-time delta, the jobs the
    * body started, and `<class>: <message>` if the body failed.
    */
  final case class Record(startMs: Long, wallS: Double, counters: Counters, gcMs: Long,
                          jobs: Vector[Job], failure: Option[String]) {
    def failed: Boolean = failure.isDefined
  }

  private final case class Mark(totals: Counters, jobs: Vector[Job])

  /** The local property that marks a barrier job. */
  private val BarrierKey = "graft.obs.barrier"
  private val MaxJobRows = 10000
  private val installed = new ConcurrentHashMap[SparkContext, Profiler]()

  /** The context's profiler, added to its listener bus on first use. */
  def install(sc: SparkContext): Profiler =
    installed.computeIfAbsent(sc, { c =>
      val p = new Profiler(c)
      c.addSparkListener(p)
      p
    })

  /** Runs `body` between two barriers and returns what it did. A
    * `NonFatal` failure is carried in the record; a fatal one propagates.
    */
  def measure(spark: SparkSession)(body: => Any): Record =
    install(spark.sparkContext).measure(body)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
}
