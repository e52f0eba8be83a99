package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import org.apache.spark.{GraftBusAccess, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Local property naming the benchmark phase a job was submitted
  * from ("construct", "plan", "action"); read back from job-start
  * events so construction-time jobs are counted apart. */
object Phase {
  val Key = "perfbench.phase"
}

/** Total GC pause time, from the JVM's GC notifications. The full
  * collections the harness forces to measure the live heap
  * ([[GcWatch.liveHeapMb]]) are left out. */
final class GcWatch extends NotificationListener {
  private val pauseMs = new AtomicLong(0L)
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }

  def start(): Unit = beans.foreach(_.addNotificationListener(this, null, null))
  def stop(): Unit = beans.foreach(b =>
    try b.removeNotificationListener(this) catch { case _: Throwable => () })

  def gcSeconds: Double = pauseMs.get / 1000.0

  override def handleNotification(n: Notification, handback: Any): Unit =
    if (n.getType == "com.sun.management.gc.notification") {
      val info = n.getUserData.asInstanceOf[CompositeData]
      if (info.get("gcCause") != "System.gc()")
        pauseMs.addAndGet(info.get("gcInfo").asInstanceOf[CompositeData]
          .get("duration").asInstanceOf[Long])
    }
}

object GcWatch {
  /** Live heap: heap in use right after full collections, in MB.
    * Heap occupancy after an ordinary young collection also counts the
    * old generation's dead objects, which pile up until a marking
    * cycle, so it measures how much was promoted, not what is live.
    * Objects freed through reference processing (finalizers, cleaners,
    * weak caches) need a second collection, so collections repeat
    * until the figure stops falling. The listener bus is drained
    * first: events still queued on it would count, and how many there
    * are depends on timing. */
  def liveHeapMb(sc: SparkContext): Double = {
    GraftBusAccess.waitUntilEmpty(sc)
    var prev = fullGcMb()
    var cur = fullGcMb()
    var n = 2
    while (cur < prev - 1.0 && n < 6) { prev = cur; cur = fullGcMb(); n += 1 }
    math.min(prev, cur)
  }

  /** Heap pools in use after one forced full collection, as the
    * collector reports them (not Metaspace or the code cache); heap in
    * use read afterwards would also count what other threads allocate
    * meanwhile. */
  private def fullGcMb(): Double = {
    Thread.sleep(50) // lets the reference handler run between collections
    System.gc()
    val last = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case b: com.sun.management.GarbageCollectorMXBean => b }
      .flatMap(b => Option(b.getLastGcInfo)).maxBy(_.getEndTime)
    last.getMemoryUsageAfterGc.asScala.collect {
      case (pool, usage) if heapPools(pool) => usage.getUsed
    }.sum / 1048576.0
  }

  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
}

/** Scheduler and task counters from the listener bus. Read with
  * [[snapshot]] after draining the bus; differences between two
  * snapshots give a window's totals. */
final class TaskTrace extends SparkListener {
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, DoubleAdder]()
  private def add(k: String, v: Double): Unit =
    counters.computeIfAbsent(k, _ => new DoubleAdder).add(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("jobs", 1)
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty(Phase.Key)))
    if (phase.contains("construct")) add("construct_jobs", 1)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_run_ms", m.executorRunTime.toDouble)
      add("task_cpu_ns", m.executorCpuTime.toDouble)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle_read_bytes", (m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead).toDouble)
      add("spill_bytes", m.diskBytesSpilled.toDouble)
      add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
  }

  def snapshot(): Map[String, Double] =
    counters.asScala.map { case (k, v) => k -> v.sum() }.toMap
}

/** One micro-batch's progress, as the listener saw it. */
final case class StreamBatch(query: String, addBatchMs: Long,
    stateRows: Long, stateBytes: Long, commitMs: Long, drops: Long)

/** Per-progress-event streaming counters, kept per query name. */
final class StreamTrace extends StreamingQueryListener {
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[StreamBatch]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      val d = p.durationMs.asScala
      val ops = p.stateOperators.toSeq
      batches.add(StreamBatch(Option(p.name).getOrElse(""),
        d.get("addBatch").map(_.longValue).getOrElse(0L),
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum, ops.map(_.numRowsDroppedByWatermark).sum))
    }
  }

  def all: Seq[StreamBatch] = batches.asScala.toSeq
  def clear(): Unit = batches.clear()
}
