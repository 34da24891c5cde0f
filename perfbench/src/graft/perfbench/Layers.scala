package graft.perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}

import scala.jdk.CollectionConverters._

/** GC time and the peak heap left live after a collection, from the
  * JVM's own GC notifications, between construction and `stop()`. */
final class JvmWatch {
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val gc0 = beans.map(_.getCollectionTime).sum
  @volatile private var peakAfterGc = 0L
  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools.contains(pool) => u.getUsed }.sum
        peakAfterGc = math.max(peakAfterGc, after)
      }
  }
  beans.foreach { case e: NotificationEmitter => e.addNotificationListener(listener, null, null); case _ => }
  var gcMs = 0.0
  def stop(): Unit = {
    gcMs = (beans.map(_.getCollectionTime).sum - gc0).toDouble
    beans.foreach { case e: NotificationEmitter =>
      try e.removeNotificationListener(listener) catch { case _: Exception => }
      case _ => }
  }
  /** Heap in use right after a collection, at its highest. */
  def peakAfterGcMb: Double = peakAfterGc / 1048576.0
}

/** Per-layer metrics of a traced timed phase. Times, counts and bytes
  * are per client op (entry span), so runs of different lengths compare. */
object Layers {

  def metrics(tracer: Tracer, spans: Seq[Span], wallS: Double,
              cores: Int, jvm: JvmWatch, probe: Seq[(String, Double, String)])
    : Seq[(String, Double, String)] = {
    val ops = math.max(1, spans.count(_.parent == -1)).toDouble
    val agg = tracer.perEntry.values.foldLeft(new TaskAgg)(_ merge _)
    def sumDur(p: Span => Boolean) = spans.filter(p).map(_.duration).sum
    val byLayer = Stats.selfByLayer(spans)
    val entryWall = spans.filter(_.parent == -1).map(_.duration).sum
    val layered = Seq("queries", "plans", "scheduler", "executor").map(l => l -> byLayer.getOrElse(l, 0.0))
    val jobs = spans.filter(_.name.startsWith("job "))
    val jobsByEntry = jobs.groupBy(_.entry)
    val driverGap = spans.filter(_.parent == -1).map { e =>
      e.duration - Stats.coveredLength(jobsByEntry.getOrElse(e.entry, Nil).map(j => (j.start, j.end)), e.start, e.end)
    }.sum
    val buildIds = spans.filter(_.layer == "queries").map(_.id).toSet
    val taskOverhead = agg.wallMs - agg.runMs - agg.deserMs - agg.resultSerMs
    Seq(
      ("queries.build_ms", sumDur(_.layer == "queries") / ops, "ms"),
      ("queries.eager_jobs", jobs.count(j => buildIds.contains(j.parent)) / ops, "count"),
      ("plans.analysis_ms", sumDur(_.name == "analysis") / ops, "ms"),
      ("plans.optimization_ms", sumDur(_.name == "optimization") / ops, "ms"),
      ("plans.planning_ms", sumDur(_.name == "planning") / ops, "ms"),
      ("plans.actions", spans.count(_.name == "planning") / ops, "count")) ++
    probe ++ Seq(
      ("sources.records_read", agg.recordsRead / ops, "count"),
      ("sources.bytes_read", agg.bytesRead / ops, "bytes"),
      ("scheduler.jobs", jobs.size / ops, "count"),
      ("scheduler.stages", spans.count(_.name.startsWith("stage ")) / ops, "count"),
      ("scheduler.tasks", agg.tasks / ops, "count"),
      ("scheduler.task_overhead_ms", if (agg.tasks == 0) 0.0 else taskOverhead.toDouble / agg.tasks, "ms"),
      ("scheduler.driver_gap_ms", driverGap / ops, "ms"),
      ("scheduler.slot_busy_ratio", agg.runMs / (wallS * 1000.0 * cores), "ratio"),
      ("executor.run_ms", agg.runMs / ops, "ms"),
      ("executor.cpu_ms", agg.cpuNs / 1e6 / ops, "ms"),
      ("executor.gc_ms", agg.gcMs / ops, "ms"),
      ("executor.shuffle_write_bytes", agg.shuffleWrite / ops, "bytes"),
      ("executor.shuffle_read_bytes", agg.shuffleRead / ops, "bytes"),
      ("executor.shuffle_fetch_wait_ms", agg.fetchWaitMs / ops, "ms"),
      ("executor.spill_bytes", agg.spill / ops, "bytes"),
      ("executor.peak_execution_memory_mb", agg.peakMem / 1048576.0, "MB"),
      ("stream.batches", tracer.streamBatches / ops, "count"),
      ("stream.batch_ms", if (tracer.streamBatches == 0) 0.0 else tracer.streamBatchMs.toDouble / tracer.streamBatches, "ms"),
      ("stream.state_rows", tracer.stateRows.toDouble, "count"),
      ("jvm.gc_ms", jvm.gcMs / ops, "ms"),
      ("jvm.heap_after_gc_peak_mb", jvm.peakAfterGcMb, "MB"),
      ("self.entry_ms", entryWall / ops, "ms")) ++
    layered.map { case (l, v) => (s"self.${l}_ms", v / ops, "ms") } :+
      (("self.unattributed_ms", (entryWall - layered.map(_._2).sum) / ops, "ms"))
  }
}
