package graftbench

import java.lang.management.ManagementFactory
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._

/** One timed call: name, start/end (ns since the run's epoch), parent span
  * index (-1 for a root) and the run id every span of one run shares. */
final case class Span(name: String, startNs: Long, endNs: Long, parent: Int, runId: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans wrap only calls made from the benchmark's
  * own files; nothing is recorded inside the program. */
final class Tracer(val runId: String) {
  private val epoch = System.nanoTime()
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  def span[T](name: String)(body: => T): T = {
    val idx = spans.size
    spans += Span(name, System.nanoTime() - epoch, -1L, stack.headOption.getOrElse(-1), runId)
    stack = idx :: stack
    try body
    finally {
      stack = stack.tail
      spans(idx) = spans(idx).copy(endNs = System.nanoTime() - epoch)
    }
  }

  /** Seconds of the last span with this name. */
  def seconds(name: String): Double =
    spans.reverseIterator.find(_.name == name).map(_.seconds).getOrElse(0.0)

  def toJson: String = spans.map { s =>
    s"""{"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},"parent":${s.parent},"run_id":"${s.runId}"}"""
  }.mkString("[", ",\n", "]")
}

/** Spark counters for one pass, filled by [[PassListener]]. */
final class PassCounters {
  var jobs = 0
  var jobsEnded = 0
  var stages = 0
  var tasksStarted = 0
  var tasks = 0
  var executorCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  var taskWaitMs = 0L
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  val stageSubmit = scala.collection.mutable.Map.empty[(Int, Int), Long]
  /** per stage: task durations in ms. */
  val stageTaskMs = scala.collection.mutable.Map.empty[(Int, Int), ArrayBuffer[Long]]

  /** slowest task over the median task, in the stage with the largest
    * summed task time among stages with at least two tasks. */
  def taskMaxOverP50: Double = {
    val multi = stageTaskMs.values.filter(_.size >= 2)
    if (multi.isEmpty) 1.0
    else {
      val ds = multi.maxBy(_.sum).sorted
      val p50 = math.max(ds(ds.size / 2), 1L)
      ds.last.toDouble / p50
    }
  }
}

/** Listener that attributes every job/stage/task event to the current pass. */
final class PassListener extends SparkListener {
  @volatile var current = new PassCounters

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    current.jobs += 1; current.jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    current.jobsEnded += 1
    current.jobStart.get(e.jobId).foreach(s => current.jobIntervals += ((s, e.time)))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    current.stages += 1
    val i = e.stageInfo
    current.stageSubmit((i.stageId, i.attemptNumber())) =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    current.tasksStarted += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = current
    c.tasks += 1
    val info = e.taskInfo
    c.stageSubmit.get((e.stageId, e.stageAttemptId))
      .foreach(s => c.taskWaitMs += math.max(0L, info.launchTime - s))
    c.stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) +=
      math.max(0L, info.finishTime - info.launchTime)
    val m = e.taskMetrics
    if (m != null) {
      c.executorCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
    }
  }

  /** Starts a new pass; returns the counters of the one that ended. */
  def rotate(): PassCounters = synchronized { val c = current; current = new PassCounters; c }

  /** Waits (bounded) until every started job and task of the pass has been
    * delivered: listener events arrive asynchronously. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    def settled = synchronized(current.jobsEnded == current.jobs && current.tasks == current.tasksStarted)
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }
}

/** Process- and host-level readings: CPU time, post-GC heap, CPU steal. */
object Probe {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuNs: Long = os.getProcessCpuTime

  /** Length of the union of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Largest heap occupancy seen right after a GC while `armed`. */
  @volatile var armed = false
  @volatile private var peakAfterGc = 0L

  def peakHeapAfterGcBytes: Long = peakAfterGc

  def installGcWatch(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: NotificationEmitter =>
        em.addNotificationListener((n: javax.management.Notification, _: Any) => {
          if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.iterator
              .filter { case (pool, _) => heapPools(pool) }
              .map(_._2.getUsed).sum
            if (used > peakAfterGc) peakAfterGc = used
          }
        }, null, null)
      case _ =>
    }

  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  /** Host CPU steal in seconds since boot (USER_HZ = 100), 0 when unreadable. */
  def stealSeconds: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map { l =>
        val f = l.trim.split("\\s+")
        if (f.length > 8) f(8).toDouble / 100.0 else 0.0
      }.getOrElse(0.0)
      finally src.close()
    } catch { case _: java.io.IOException => 0.0 }
}
