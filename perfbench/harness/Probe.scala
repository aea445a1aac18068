package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.scheduler._

/** What the scheduler did for one span, or for the whole measured part of a run. */
final class Counters {
  val jobs, stages, tasks, runMs, cpuNs, maxTaskMs, inputBytes,
    shuffleWrite, shuffleRead, spillBytes, resultBytes = new AtomicLong

  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks.incrementAndGet()
    runMs.addAndGet(m.executorRunTime)
    cpuNs.addAndGet(m.executorCpuTime)
    maxTaskMs.accumulateAndGet(m.executorRunTime, math.max)
    inputBytes.addAndGet(m.inputMetrics.bytesRead)
    shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    shuffleRead.addAndGet(m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
    spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    resultBytes.addAndGet(m.resultSize)
  }

  def write(o: ObjectNode): ObjectNode = {
    Seq("jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "task_ms" -> runMs,
      "cpu_ns" -> cpuNs, "max_task_ms" -> maxTaskMs, "input_bytes" -> inputBytes,
      "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
      "spill_bytes" -> spillBytes, "result_bytes" -> resultBytes)
      .foreach { case (k, v) => o.put(k, v.get) }
    o
  }
}

/** A listener that credits every job, stage and task to the span named in
  * the job's `perfbench.span` local property. Spark copies a thread's
  * local properties into the jobs it submits, including those submitted
  * from broadcast and subquery threads on its behalf, so work a call
  * triggers indirectly still lands in the caller's span.
  *
  * Span names that start with `u:` mark unmeasured work (calibration,
  * endpoint warm-up, output capture, the LogSource check scans);
  * everything else adds to `total`.
  */
final class Probe(perSpan: Boolean) extends SparkListener {
  val total = new Counters
  val spans = new ConcurrentHashMap[String, Counters]()
  private val stageSpan = new ConcurrentHashMap[Integer, String]()

  private def credit(span: String)(f: Counters => Unit): Unit =
    if (span != null) {
      if (!span.startsWith("u:")) f(total)
      if (perSpan) f(spans.computeIfAbsent(span, _ => new Counters))
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).map(_.getProperty(Probe.SpanKey)).orNull
    if (span != null) e.stageIds.foreach(id => stageSpan.put(id, span))
    credit(span)(_.jobs.incrementAndGet())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    credit(stageSpan.get(e.stageInfo.stageId))(_.stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) credit(stageSpan.get(e.stageId))(_.add(e.taskMetrics))
}

object Probe {
  val SpanKey = "perfbench.span"
}

/** JVM-wide garbage collection figures: total collection time, and the
  * largest heap still in use after any collection the JVM makes on its own.
  * The harness never forces a collection, so the figure follows the
  * garbage an operation leaves behind as a normal run does.
  */
object Heap {
  private val peak = new AtomicLong
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, math.max)
      }
  }

  /** Record the heap in use after every collection from now on. */
  def watch(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def peakAfterGcBytes: Long = peak.get

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum
}
