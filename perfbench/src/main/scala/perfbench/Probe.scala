package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Spark-engine counters of one job group, summed over the tasks of every
  * job launched under it. Times are executor run and CPU time, not stage
  * wall time. */
final class GroupStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var executorRunMs = 0L
  var executorCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  var inputBytes = 0L
  var lastJobEndMs = 0L
}

/** Attributes every Spark event to the job group that caused it: job start
  * maps the job's stages to its group, later stage and task events look the
  * group up. Events of jobs outside any group are ignored. There is no
  * sleep-and-zero: a reader calls [[drain]], which runs a marker job and
  * waits until the listener bus has delivered it, so every event posted
  * before it has been counted. */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]
  private val jobGroup = new ConcurrentHashMap[Int, String]
  private val stats = new ConcurrentHashMap[String, GroupStats]
  private val fences = new ConcurrentHashMap[String, CountDownLatch]
  private val fenceSeq = new AtomicLong

  private def of(g: String): GroupStats = stats.computeIfAbsent(g, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      jobGroup.put(e.jobId, g)
      e.stageIds.foreach(stageGroup.put(_, g))
      of(g).jobs += 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val g = stageGroup.get(e.stageInfo.stageId)
    if (g != null) {
      val s = of(g)
      s.stages += 1
      s.tasks += e.stageInfo.numTasks
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val s = of(g)
      s.executorRunMs += m.executorRunTime
      s.executorCpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
      s.inputBytes += m.inputMetrics.bytesRead
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = jobGroup.get(e.jobId)
    if (g != null) {
      val s = of(g)
      s.lastJobEndMs = math.max(s.lastJobEndMs, e.time)
      Option(fences.remove(g)).foreach(_.countDown())
    }
  }

  /** Block until every event posted before this call has been delivered. */
  def drain(sc: SparkContext): Unit = {
    val g = s"perfbench-fence-${fenceSeq.incrementAndGet()}"
    val latch = new CountDownLatch(1)
    fences.put(g, latch)
    sc.setJobGroup(g, "listener fence", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    require(latch.await(120, TimeUnit.SECONDS), "listener bus did not deliver the fence job")
  }

  /** Counters of a group; only meaningful after [[drain]]. */
  def get(group: String): GroupStats = Option(stats.get(group)).getOrElse(new GroupStats)
}

/** Session-state residency: what a call left behind. */
object CacheProbe {
  def entries(spark: SparkSession): Int = org.apache.spark.sql.perfbench.CacheEntries(spark)
  def rdds(spark: SparkSession): Int = spark.sparkContext.getPersistentRDDs.size

  /** Drop every cached plan and persisted RDD, so the next call runs cold. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

/** JVM-wide readings of the driver process (local mode: executors too). */
object JvmProbe {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)
  def loadavg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  /** Forces a full collection and returns the old generation's occupancy
    * right after it: the live set, without the promoted garbage a young
    * collection leaves behind. */
  def liveOldGenBytes(): Long = {
    System.gc()
    oldGen.map(_.getCollectionUsage.getUsed).sum
  }
}
