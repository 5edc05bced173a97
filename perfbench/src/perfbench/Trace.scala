package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One timed interval. `parent` is -1 for the root. Times are nanoseconds
  * since the tracer started. */
final class Span(val id: Int, val parent: Int, val name: String, val start: Long) {
  var end: Long = -1L
  val attrs = mutable.LinkedHashMap.empty[String, Any]
  def seconds: Double = (end - start) / 1e9
}

/** Spans recorded in memory around the benchmark's calls into each layer,
  * written out when the run ends. Only the benchmark's own thread opens
  * spans; Spark jobs are added afterwards from [[JobListener]]. Disabled,
  * it runs the body and records nothing. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()
  private var stack: List[Span] = Nil
  /** Called with the innermost open span whenever it changes. */
  var onEnter: Option[Span] => Unit = _ => ()

  def now: Long = System.nanoTime() - t0Ns
  /** Wall-clock milliseconds → tracer time, for Spark's event timestamps. */
  def fromWallMs(ms: Long): Long = (ms - t0Ms) * 1000000L

  def open(name: String): Span = {
    val s = new Span(spans.size, stack.headOption.fold(-1)(_.id), name, now)
    if (enabled) spans += s
    stack = s :: stack
    onEnter(Some(s))
    s
  }

  def close(s: Span): Unit = {
    s.end = now
    require(stack.headOption.contains(s), s"span ${s.name} closed out of order")
    stack = stack.tail
    onEnter(stack.headOption)
  }

  def apply[T](name: String)(body: Span => T): T = {
    val s = open(name)
    try body(s) finally close(s)
  }

  def add(parent: Span, name: String, start: Long, end: Long): Span = {
    val s = new Span(spans.size, parent.id, name, start)
    s.end = end
    if (enabled) spans += s
    s
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq
  def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)

  /** Duration minus the part of it that child spans cover. */
  def selfSeconds(s: Span): Double = {
    val iv = children(s).map(c => (c.start max s.start, c.end min s.end))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var cur: Option[(Long, Long)] = None
    iv.foreach { case (a, b) => cur match {
      case Some((lo, hi)) if a <= hi => cur = Some((lo, hi max b))
      case _ => cur.foreach { case (lo, hi) => covered += hi - lo }; cur = Some((a, b))
    } }
    cur.foreach { case (lo, hi) => covered += hi - lo }
    (s.end - s.start - covered) / 1e9
  }
}

/** Counts of one completed Spark job, summed over its completed stages. */
final case class JobStats(id: Int, group: String, submitMs: Long, endMs: Long,
    stages: Int, tasks: Int, runMs: Long, cpuNs: Long, shuffleRead: Long,
    shuffleWrite: Long, spill: Long, retries: Int)

/** Collects per-job, per-stage and per-task counts. Read its results only
  * after [[org.apache.spark.perfbench.ListenerBusAccess.drain]]. */
final class JobListener extends SparkListener {
  private final case class Stage(tasks: Int, runMs: Long, cpuNs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long)
  private val stageStats = mutable.Map.empty[Int, Stage]
  private val retriesByStage = mutable.Map.empty[Int, Int].withDefaultValue(0)
  private val open = mutable.Map.empty[Int, (String, Long, Seq[Int])]
  private val done = mutable.ArrayBuffer.empty[JobStats]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    open(e.jobId) = (group.getOrElse(""), e.time, e.stageIds)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val prev = stageStats.get(i.stageId)
    val s = Stage(i.numTasks, m.executorRunTime, m.executorCpuTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled)
    // a re-attempted stage adds to the first attempt's counts
    stageStats(i.stageId) = prev.fold(s)(p => Stage(p.tasks + s.tasks, p.runMs + s.runMs,
      p.cpuNs + s.cpuNs, p.shuffleRead + s.shuffleRead, p.shuffleWrite + s.shuffleWrite,
      p.spill + s.spill))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo.attemptNumber > 0) retriesByStage(e.stageId) += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { case (group, submit, stageIds) =>
      val ss = stageIds.flatMap(stageStats.get)
      done += JobStats(e.jobId, group, submit, e.time, ss.size, ss.map(_.tasks).sum,
        ss.map(_.runMs).sum, ss.map(_.cpuNs).sum, ss.map(_.shuffleRead).sum,
        ss.map(_.shuffleWrite).sum, ss.map(_.spill).sum, stageIds.map(retriesByStage).sum)
    }
  }

  /** Jobs finished since the last call. */
  def take(): Seq[JobStats] = synchronized {
    val out = done.toList
    done.clear()
    out
  }
}

/** The machine the run shares. */
object Host {
  val cpus: Int = Runtime.getRuntime.availableProcessors

  /** CPU seconds the hypervisor has given this machine's CPUs to other
    * guests since boot (`steal` in /proc/stat); 0 where that is unknown. */
  def stealSeconds: Double = scala.util.Try {
    val f = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/stat")))
      .linesIterator.next().trim.split("\\s+")
    f(8).toDouble / 100.0 // USER_HZ
  }.getOrElse(0.0)

  /** The share of the machine's CPU time over `wallSeconds` that was not
    * stolen, given the seconds stolen in that window. A disturbed interval
    * is scaled back toward what an undisturbed host would have taken. */
  def unstolen(stolen: Double, wallSeconds: Double): Double =
    if (wallSeconds <= 0) 1.0 else (1.0 - stolen / (wallSeconds * cpus)).max(0.0).min(1.0)
}

/** Process-wide JVM counters read around the timed phase. */
object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum / 1e3

  /** CPU seconds used so far by the JVM's live Java threads: the driver,
    * task and pool threads. JIT compiler and GC threads are not Java
    * threads, and the hypervisor's steal time is not CPU time, so this
    * moves with the work done and not with the host's load. */
  def threadCpuSeconds: Double = {
    val mx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    mx.getThreadCpuTime(mx.getAllThreadIds).filter(_ > 0).sum / 1e9
  }

  def jitSeconds: Double =
    Option(ManagementFactory.getCompilationMXBean).filter(_.isCompilationTimeMonitoringSupported)
      .fold(0.0)(_.getTotalCompilationTime / 1e3)

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Heap in use after full collections: the state the run left behind.
    * Spark's cleaner frees broadcast and shuffle state only after a
    * collection has enqueued their handles, so the lowest of a few
    * collect-and-read rounds is the settled value. */
  def retainedHeapMb: Double = (1 to 3).map { _ =>
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min
}
