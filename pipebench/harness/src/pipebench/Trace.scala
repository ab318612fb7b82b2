package pipebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Spark counts for one job group (one phase of one step of one pass). */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskNs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var resultBytes = 0L
  var scanBytes = 0L
  var outputBytes = 0L
  var outputRows = 0L
  var peakExecMem = 0L
  var exchanges = 0L
}

/** The benchmark's SparkListener: every count is keyed by the job group
  * the harness set around the phase that caused it, so attribution does
  * not depend on when the (asynchronous) listener bus delivers events.
  */
final class LayerListener extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val resultStages = ConcurrentHashMap.newKeySet[Int]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val execExchanges = new ConcurrentHashMap[Long, java.lang.Long]()
  private val blocks = new ConcurrentHashMap[String, java.lang.Long]()
  private val cachedNow = new AtomicLong(0L)
  val cachedPeak = new AtomicLong(0L)

  private def counters(group: String): Counters =
    byGroup.computeIfAbsent(group, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    counters(group).synchronized { counters(group).jobs += 1 }
    e.stageInfos.foreach(s => stageGroup.put(s.stageId, group))
    // the job's final stage returns its rows to the caller; the others are
    // shuffle-map stages
    e.stageInfos.map(_.stageId).maxOption.foreach(resultStages.add)
    Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => execGroup.putIfAbsent(id.toLong, group))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = counters(stageGroup.getOrDefault(e.stageInfo.stageId, ""))
    c.synchronized { c.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val c = counters(stageGroup.getOrDefault(e.stageId, ""))
    val info = e.taskInfo
    val gettingResult =
      if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime
      else 0L
    // the Spark UI's scheduler-delay formula
    val delay = math.max(0L, (info.finishTime - info.launchTime) -
      m.executorRunTime - m.executorDeserializeTime -
      m.resultSerializationTime - gettingResult)
    c.synchronized {
      c.tasks += 1
      c.taskNs += m.executorRunTime * 1000000L
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.schedDelayMs += delay
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.diskBytesSpilled
      if (resultStages.contains(e.stageId)) c.resultBytes += m.resultSize
      c.scanBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.outputRows += m.outputMetrics.recordsWritten
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (!info.blockId.isRDD) return
    val size = info.memSize + info.diskSize
    val prev = Option(blocks.put(info.blockId.name, size)).map(_.longValue).getOrElse(0L)
    val now = cachedNow.addAndGet(size - prev)
    cachedPeak.accumulateAndGet(now, math.max(_, _))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execExchanges.put(s.executionId, LayerListener.exchanges(s.sparkPlanInfo))
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      // the adaptive re-plans replace the initial plan; the last one is
      // what ran
      execExchanges.put(u.executionId, LayerListener.exchanges(u.sparkPlanInfo))
    case _ =>
  }

  /** Counts per job group; exchanges are credited to the group of the
    * first job their SQL execution ran. Call after the bus is drained.
    */
  def snapshot(): Map[String, Counters] = {
    execExchanges.asScala.foreach { case (id, n) =>
      Option(execGroup.get(id)).foreach(g => counters(g).exchanges += n)
    }
    execExchanges.clear()
    byGroup.asScala.toMap
  }

  def resetCachedPeak(): Unit = cachedPeak.set(cachedNow.get)
}

object LayerListener {
  /** Exchange nodes a plan runs: shuffle and broadcast exchanges, not the
    * reused ones nor those inside an already-cached relation.
    */
  def exchanges(p: SparkPlanInfo): Long = p.nodeName match {
    case "ReusedExchange" | "InMemoryTableScan" => 0L
    case n => (if (n == "Exchange" || n == "BroadcastExchange") 1L else 0L) +
      p.children.iterator.map(exchanges).sum
  }
}

/** A trace span: workload → run → pass → step → phase. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      layer: String, startNs: Long, endNs: Long)

/** Spans stay in memory and are written with the record at the end. */
final class Spans(origin: Long) {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var next = 0

  def open(): Int = { next += 1; next }

  def close(id: Int, parent: Int, kind: String, name: String, layer: String,
            startNs: Long, endNs: Long): Unit =
    buf += Span(id, parent, kind, name, layer, startNs - origin, endNs - origin)

  def all: Seq[Span] = buf.toSeq
}

/** Heap used after each GC and the summed GC pause time, from the JVM's
  * own notifications (cheap enough to keep on when tracing is off).
  */
final class GcMonitor {
  import java.lang.management.ManagementFactory
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  val peakAfterGc = new AtomicLong(0L)
  val pauseMs = new AtomicLong(0L)

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData])
        // concurrent cycles run beside the application; only pauses stop it
        if (!info.getGcName.contains("Concurrent")) {
          pauseMs.addAndGet(info.getGcInfo.getDuration)
          val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
            .filter(_.getType == java.lang.management.MemoryType.HEAP)
            .map(_.getName).toSet
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          peakAfterGc.accumulateAndGet(used, math.max(_, _))
        }
      }
  }

  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def stop(): Unit = emitters.foreach(e =>
    try e.removeNotificationListener(listener) catch { case _: Exception => () })
}

/** Samples the Spark local dirs through the repo's own walker
  * (`graft.Scratch`) and keeps the peak growth since `reset`.
  */
final class ScratchSampler(conf: org.apache.spark.SparkConf, periodMs: Long) {
  private val base = new AtomicLong(0L)
  private val peak = new AtomicLong(0L)
  @volatile private var stopped = false

  def sample(): Unit =
    peak.accumulateAndGet(graft.Scratch.bytes(conf) - base.get, math.max(_, _))

  def reset(): Unit = { base.set(graft.Scratch.bytes(conf)); peak.set(0L) }

  def peakBytes: Long = peak.get

  private val thread = new Thread(() => {
    while (!stopped) {
      sample()
      try Thread.sleep(periodMs) catch { case _: InterruptedException => () }
    }
  }, "pipebench-scratch")
  thread.setDaemon(true)
  thread.start()

  def stop(): Unit = { stopped = true; thread.interrupt(); thread.join(5000) }
}
