package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-metric sums for one entry (or for a whole run). */
final class TaskAgg {
  var tasks = 0L
  var wallMs = 0L
  var runMs = 0L
  var cpuNs = 0L
  var deserMs = 0L
  var resultSerMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var peakMem = 0L
  var recordsRead = 0L
  var bytesRead = 0L

  def add(ti: TaskInfo, m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1
    wallMs += ti.finishTime - ti.launchTime
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      deserMs += m.executorDeserializeTime
      resultSerMs += m.resultSerializationTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      peakMem = math.max(peakMem, m.peakExecutionMemory)
      recordsRead += m.inputMetrics.recordsRead
      bytesRead += m.inputMetrics.bytesRead
    }
  }

  def merge(o: TaskAgg): TaskAgg = {
    tasks += o.tasks; wallMs += o.wallMs; runMs += o.runMs; cpuNs += o.cpuNs
    deserMs += o.deserMs; resultSerMs += o.resultSerMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    fetchWaitMs += o.fetchWaitMs; spill += o.spill
    peakMem = math.max(peakMem, o.peakMem)
    recordsRead += o.recordsRead; bytesRead += o.bytesRead
    this
  }
}

/** Spans and counts at the layer boundaries the benchmark can see from
  * outside the program, all held in memory until `finish()`:
  *
  *   entry -> build (queries) -> job -> stage -> executor
  *   entry -> action          -> analysis/optimization/planning (plans)
  *                            -> job (scheduler) -> stage -> executor
  *
  * Driver-side spans (entry, build, action) are opened around the calls
  * the workloads make. Job, stage and task times arrive through a
  * SparkListener, the planning phases through a QueryExecutionListener
  * and micro-batches through a StreamingQueryListener — all registered
  * here, none inside the program. A job finds its parent through a
  * local property set on the driver thread; a planning phase finds its
  * parent as the innermost driver span that contains it.
  *
  * With `enabled = false` every call is a plain pass-through, which is
  * what the untraced (end-to-end) runs use.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val Prop = "perfbench.span"
  private val sc = spark.sparkContext
  private val nano0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis().toDouble
  def now: Double = ms0 + (System.nanoTime() - nano0) / 1e6

  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val driverSpans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Long, Long)] = Nil // (span id, entry id)

  // listener-side state; guarded by `lock`
  private val lock = new Object
  private val jobOpen = mutable.Map.empty[Int, (Long, Double)] // job -> (parent span, start)
  private val stageJob = mutable.Map.empty[Int, Int]
  // job -> entry, kept after the job ends so late task events still resolve
  private val jobEntry = mutable.Map.empty[Int, Long]
  private val stageSpans = mutable.Map.empty[(Int, Int), (Long, Double, Double)] // (stage, attempt) -> (id, start, end)
  private val taskIntervals = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[(Double, Double)]]
  private val listenerSpans = mutable.ArrayBuffer.empty[Span]
  private val phases = mutable.ArrayBuffer.empty[(String, Double, Double)]
  val perEntry: mutable.Map[Long, TaskAgg] = mutable.Map.empty
  var streamBatches = 0L
  var streamBatchMs = 0L
  private val streamStateRows = mutable.Map.empty[java.util.UUID, Long]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      parent.foreach { p =>
        val Array(spanId, entry) = p.split("/").map(_.toLong)
        lock.synchronized {
          jobEntry(e.jobId) = entry
          jobOpen(e.jobId) = (spanId, e.time.toDouble)
          e.stageIds.foreach(s => stageJob(s) = e.jobId)
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobOpen.remove(e.jobId).foreach { case (parent, start) =>
        listenerSpans += Span(jobSpanId(e.jobId), parent, jobEntry(e.jobId), s"job ${e.jobId}",
          "scheduler", start, e.time.toDouble)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val si = e.stageInfo
      stageJob.get(si.stageId).foreach { _ =>
        stageSpans((si.stageId, si.attemptNumber())) =
          (ids.incrementAndGet(), si.submissionTime.getOrElse(0L).toDouble,
            si.completionTime.getOrElse(0L).toDouble)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageJob.get(e.stageId).foreach { job =>
        val entry = jobEntry.getOrElse(job, -1L)
        perEntry.getOrElseUpdate(entry, new TaskAgg).add(e.taskInfo, e.taskMetrics)
        taskIntervals.getOrElseUpdate((e.stageId, e.stageAttemptId),
          mutable.ArrayBuffer.empty) += ((e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble))
      }
    }
  }
  private def jobSpanId(job: Int): Long = -(job.toLong + 2)

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      qe.tracker.phases.foreach { case (name, ph) =>
        phases += ((name, ph.startTimeMs.toDouble, ph.endTimeMs.toDouble))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized {
        val p = e.progress
        streamBatches += 1
        streamBatchMs += p.batchDuration
        streamStateRows(p.id) = p.stateOperators.map(_.numRowsTotal).sum
      }
  }

  def start(): Unit = if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Drain the listener bus, detach, and turn job/stage/task events
    * into spans. Returns every span recorded. */
  def finish(): Seq[Span] = if (!enabled) Nil else {
    org.apache.spark.PerfbenchAccess.drainListenerBus(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    lock.synchronized {
      // stages hang under their job, executor busy intervals under stages
      val stageSpanList = stageSpans.toSeq.flatMap { case ((stage, attempt), (id, s, e)) =>
        stageJob.get(stage).map { job =>
          val entry = jobEntry.getOrElse(job, -1L)
          val stageSpan = Span(id, jobSpanId(job), entry, s"stage $stage.$attempt", "scheduler", s, e)
          val busy = merged(taskIntervals.getOrElse((stage, attempt), Nil).toSeq)
            .map { case (a, b) => Span(ids.incrementAndGet(), id, entry, "tasks", "executor", a, b) }
          stageSpan +: busy
        }
      }.flatten
      val drivers = driverSpans.toSeq
      val phaseSpans = phases.toSeq.flatMap { case (name, s, e) =>
        innermost(drivers, s, e).map(p =>
          Span(ids.incrementAndGet(), p.id, p.entry, name, "plans", s, e))
      }
      drivers ++ listenerSpans.toSeq ++ stageSpanList ++ phaseSpans
    }
  }

  private def merged(iv: Seq[(Double, Double)]): Seq[(Double, Double)] =
    iv.sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((a, b) :: rest, (c, d)) if c <= b => (a, math.max(b, d)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  private def innermost(spans: Seq[Span], s: Double, e: Double): Option[Span] = {
    // listener times are whole milliseconds: allow one ms of slack
    val c = spans.filter(p => p.start - 1 <= s && e <= p.end + 1)
    if (c.isEmpty) None else Some(c.minBy(_.duration))
  }

  def stateRows: Long = lock.synchronized(streamStateRows.values.sum)

  /** Run `body` as one entry: a closed-loop client operation. */
  def entry[T](name: String)(body: => T): T =
    if (!enabled) body else {
      val id = ids.incrementAndGet()
      open(id, id, name, "entry")(body)
    }

  /** Run `body` as a child span of the current entry. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled || stack.isEmpty) body
    else open(ids.incrementAndGet(), stack.head._2, name, layer)(body)

  private def open[T](id: Long, entry: Long, name: String, layer: String)(body: => T): T = {
    val parent = stack.headOption.map(_._1).getOrElse(-1L)
    stack = (id, entry) :: stack
    sc.setLocalProperty(Prop, s"$id/$entry")
    val t0 = now
    try body
    finally {
      val t1 = now
      stack = stack.tail
      sc.setLocalProperty(Prop, stack.headOption.map { case (i, e) => s"$i/$e" }.orNull)
      driverSpans.synchronized { driverSpans += Span(id, parent, entry, name, layer, t0, t1) }
    }
  }
}
