package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded at the layer boundaries the benchmark calls across, kept
  * in memory and written when the run ends. Disabled, `span` only runs its
  * body. */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def span[A](name: String, op: String, parent: Long = 0L)(body: Long => A): A =
    if (!enabled) body(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      try body(id)
      finally spans.add(Span(id, name, t0, System.nanoTime(), parent, op))
    }

  /** Record a span measured elsewhere (Spark jobs from the listener). */
  def add(name: String, op: String, startNs: Long, endNs: Long, parent: Long = 0L): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), name, startNs, endNs, parent, op))

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  private val costNs = new AtomicLong(0)
  /** Run tracing work that sits on the measuring thread (counter snapshots,
    * warehouse listings) and add its time to [[overheadS]]. */
  def cost[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally costNs.addAndGet(System.nanoTime() - t0)
  }
  /** Seconds the measuring thread spent in tracing work so far. */
  def overheadS: Double = costNs.get / 1e9
}

object Tracer {
  final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
                        parent: Long, op: String)
}

/** Spark scheduler counters, totalled over every job since registration.
  * Stage wall time minus its longest task is the time the stage spent in
  * scheduling and task launch rather than in its slowest task. */
final class SparkProbe(sc: SparkContext, tracer: Tracer) extends SparkListener {
  import SparkProbe.Counters
  private var c = Counters()
  private val stageMaxTaskMs = scala.collection.mutable.Map.empty[(Int, Int), Long]
  private val jobStart = scala.collection.mutable.Map.empty[Int, (Long, String)]
  // listener times are wall-clock ms; spans are on the nanoTime axis
  private val wallToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobStart(e.jobId) = (e.time, group)
    c = c.copy(jobs = c.jobs + 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, group) =>
      tracer.add(s"spark.job.${e.jobId}", group,
        t0 * 1000000L + wallToNano, e.time * 1000000L + wallToNano)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val key = (e.stageId, e.stageAttemptId)
    stageMaxTaskMs(key) = stageMaxTaskMs.getOrElse(key, 0L) max e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) c = c.copy(
      tasks = c.tasks + 1,
      taskRunMs = c.taskRunMs + m.executorRunTime,
      taskCpuNs = c.taskCpuNs + m.executorCpuTime,
      shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
      shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
      spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
      resultBytes = c.resultBytes + m.resultSize,
      outputBytes = c.outputBytes + m.outputMetrics.bytesWritten)
    else c = c.copy(tasks = c.tasks + 1)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val maxTask = stageMaxTaskMs.remove((i.stageId, i.attemptNumber())).getOrElse(0L)
    val wall = (for (s <- i.submissionTime; f <- i.completionTime) yield f - s).getOrElse(0L)
    c = c.copy(stages = c.stages + 1, schedWaitMs = c.schedWaitMs + (wall - maxTask).max(0L))
  }

  /** Counters after every event posted so far has been delivered. */
  def snapshot(): Counters = tracer.cost {
    org.apache.spark.BenchBus.drain(sc)
    synchronized(c)
  }
}

object SparkProbe {
  final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
      schedWaitMs: Long = 0, taskRunMs: Long = 0, taskCpuNs: Long = 0,
      shuffleWrite: Long = 0, shuffleRead: Long = 0, spill: Long = 0,
      resultBytes: Long = 0, outputBytes: Long = 0) {
    def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, schedWaitMs - o.schedWaitMs, taskRunMs - o.taskRunMs,
      taskCpuNs - o.taskCpuNs, shuffleWrite - o.shuffleWrite,
      shuffleRead - o.shuffleRead, spill - o.spill, resultBytes - o.resultBytes,
      outputBytes - o.outputBytes)

    def metrics: Seq[(String, Double)] = Seq(
      "spark.jobs" -> jobs.toDouble, "spark.stages" -> stages.toDouble,
      "spark.tasks" -> tasks.toDouble, "spark.sched_wait_s" -> schedWaitMs / 1e3,
      "spark.task_run_s" -> taskRunMs / 1e3, "spark.task_cpu_s" -> taskCpuNs / 1e9,
      "spark.shuffle_write_bytes" -> shuffleWrite.toDouble,
      "spark.shuffle_read_bytes" -> shuffleRead.toDouble,
      "spark.spill_bytes" -> spill.toDouble,
      "spark.result_bytes" -> resultBytes.toDouble,
      "sink.bytes_written" -> outputBytes.toDouble)
  }
}

/** JVM readings: process CPU, GC time, heap. */
object Jvm {
  import java.lang.management.ManagementFactory
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  def heapUsedMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  /** Heap still reachable after full collections: what the driver holds.
    * Spark releases broadcast and shuffle state only after a collection has
    * cleared its weak references, so this collects a few times, pausing
    * for that cleanup, and keeps the lowest reading. */
  def liveHeapMb(): Double = (1 to 4).map { _ =>
    System.gc(); Thread.sleep(250); heapUsedMb
  }.min

  /** Seconds from JVM launch to now. */
  def sinceLaunchS: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def maxHeapMb: Double = Runtime.getRuntime.maxMemory / 1048576.0
}
