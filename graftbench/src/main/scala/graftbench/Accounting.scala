package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one job group. */
final case class SparkWork(jobs: Long, tasks: Long, taskS: Double,
                           shuffleMb: Double)

object SparkWork { val zero: SparkWork = SparkWork(0L, 0L, 0.0, 0.0) }

/** Scheduler accounting keyed by job group: each accounted call runs
  * under a fresh `spark.jobGroup.id`, a job's stages are mapped to that
  * group when the job starts, and stage totals land in the group when
  * the stage completes. Reads drain the listener bus first, so nothing
  * depends on event arrival time or on sleeping. Disabled (untraced
  * runs), no listener is registered and `measure` only runs the body. */
final class Accounting(sc: SparkContext, enabled: Boolean) extends SparkListener {
  private final class Acc {
    val jobs = new AtomicLong; val tasks = new AtomicLong
    val taskMs = new AtomicLong; val shuffleBytes = new AtomicLong
  }
  private val GroupKey = "spark.jobGroup.id"
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, Acc]()
  private val seq = new AtomicLong

  if (enabled) sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty(GroupKey)).orNull
    if (g != null) {
      val acc = groups.get(g)
      if (acc != null) {
        acc.jobs.incrementAndGet()
        e.stageIds.foreach(stageGroup.put(_, g))
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val g = stageGroup.remove(e.stageInfo.stageId)
    if (g != null) {
      val acc = groups.get(g)
      val m = e.stageInfo.taskMetrics
      acc.tasks.addAndGet(e.stageInfo.numTasks.toLong)
      if (m != null) {
        acc.taskMs.addAndGet(m.executorRunTime)
        acc.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  /** Runs `body` with every Spark job it submits from this thread
    * attributed to a fresh group; returns the result and that work. */
  def measure[T](layer: String)(body: => T): (T, SparkWork) =
    if (!enabled) (body, SparkWork.zero)
    else {
      val g = s"$layer#${seq.incrementAndGet()}"
      val acc = new Acc
      groups.put(g, acc)
      val prev = sc.getLocalProperty(GroupKey)
      sc.setLocalProperty(GroupKey, g)
      val r = try body finally sc.setLocalProperty(GroupKey, prev)
      org.apache.spark.BenchBus.drain(sc)
      groups.remove(g)
      (r, SparkWork(acc.jobs.get, acc.tasks.get, acc.taskMs.get / 1e3,
        acc.shuffleBytes.get / 1048576.0))
    }
}

/** JVM-wide counters read at the end of a run: total GC and JIT
  * compile time, code cache in use, and the heap pools' peak. */
object JvmRuntime {
  import java.lang.management.{ManagementFactory, MemoryType}

  def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum.toDouble

  def jitMs: Double = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime.toDouble).getOrElse(0.0)

  private def pools = ManagementFactory.getMemoryPoolMXBeans.asScala

  def codeCacheMb: Double = pools.filter(_.getName.startsWith("CodeHeap"))
    .map(_.getUsage.getUsed).sum / 1048576.0

  /** (steal, total) jiffies from /proc/stat; zeros where unavailable. */
  def cpuSteal: (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        finally src.close()
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  def heapPeakMb: Double = pools.filter(_.getType == MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0
}
